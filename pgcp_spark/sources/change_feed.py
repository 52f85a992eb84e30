"""Registered change-feed query: CDC diff between two lake snapshots.

Drives ``lake.table_changes`` end-to-end through the snapshot machinery
on driver-checkable data: build a base snapshot from orders, MERGE an
update batch (doubled totals for every 5th key — updates where the key
exists, inserts where it doesn't), then read the change feed between the
two retained snapshots. Because both snapshots are pure functions of the
orders table, the whole feed has an exact SQL twin — the rare case where
a lake-mutation pipeline is hash-checkable, not rows-only.

Reference anchor: none in the reference (it has no table versioning);
this is the lakehouse CDF surface (Delta change data feed / Iceberg
changelog) completing the snapshot/time-travel/MERGE/OPTIMIZE set in
``sources/lake.py``.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgcp_spark.indexes.loop import reclaim_by_mode
from pgcp_spark.plans.materialize import materialize
from pgcp_spark.registry import register
from pgcp_spark.sources import load_table
from pgcp_spark.sources.lake import (
    delete,
    merge_cdc,
    read_current,
    table_changes,
    upsert,
    write_snapshot,
)
from pgcp_spark.sources.view_maintenance import (
    apply_agg_feed,
    apply_distinct_feed,
    apply_minmax_feed,
    build_agg_over,
    build_distinct_over,
    build_distinct_support,
    build_minmax_over,
    read_distinct_agg,
    serve_agg,
    serve_minmax,
    standard_cdc_batch,
)

_ORACLE = """
WITH o AS (SELECT o_orderkey, o_totalprice FROM orders)
SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
       'insert' AS _change_type
FROM o WHERE o_orderkey % 3 = 0 AND o_orderkey % 5 = 0
UNION ALL
SELECT o_orderkey, o_totalprice, 'update_preimage' FROM o
WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0
  AND o_totalprice * 2 IS DISTINCT FROM o_totalprice
UNION ALL
SELECT o_orderkey, o_totalprice * 2, 'update_postimage' FROM o
WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0
  AND o_totalprice * 2 IS DISTINCT FROM o_totalprice
ORDER BY o_orderkey, _change_type
"""


@register(
    "lake_change_feed_orders",
    oracle=_ORACLE,
    doc="CDC between lake snapshots: base orders table, MERGE of doubled totals for every 5th key, change feed = inserts + update pre/postimages (keyed full-outer diff)",
)
def lake_change_feed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot A = orders keys with ``o_orderkey % 3 != 0``; MERGE batch =
    every 5th key with doubled o_totalprice (an update when the key is in
    A, an insert when ``% 15 == 0``); feed = ``table_changes(A, B)``.
    NULL-key rows are excluded from BOTH snapshots by the same predicate
    semantics on both engines (``NULL % k`` filters out), so the feed's
    NULL-key delete+insert contract never triggers here. No deletes by
    construction — MERGE only adds or replaces. A NULL or zero
    o_totalprice makes the doubled row EQUAL to its preimage (NULL*2 is
    NULL, 0*2 is 0): the feed's null-safe compare drops such no-op
    updates, and the oracle mirrors it with IS DISTINCT FROM — the
    nulls-lake shape that distinguishes CDC-on-change from
    CDC-on-touch."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = orders.filter(F.col("o_orderkey") % 3 != 0)
    updates = orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    tdir = tempfile.mkdtemp(prefix="pgcp_change_feed_")
    try:
        snap_a = write_snapshot(base, tdir)
        # keep=2: table_changes below reads snap_a by name
        upsert(spark, tdir, updates, key=["o_orderkey"], keep=2)
        result = materialize(
            table_changes(spark, tdir, snap_a, key=["o_orderkey"]).orderBy(
                "o_orderkey", "_change_type"
            )
        )
    except BaseException:
        shutil.rmtree(tdir, ignore_errors=True)
        raise
    # same reclamation rule as the ingest loops (shared harness)
    reclaim_by_mode(tdir)
    return result


_AGG_ORACLE = """
WITH post AS (
    SELECT o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) AS p
    FROM orders
    WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0
      AND o_custkey IS NOT NULL
    UNION ALL
    SELECT o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) * 2
    FROM orders WHERE o_orderkey % 5 = 0 AND o_custkey IS NOT NULL
)
SELECT o_custkey,
       CAST(SUM(p) AS DOUBLE) AS sum_totalprice,
       COUNT(*) AS order_cnt
FROM post GROUP BY o_custkey ORDER BY o_custkey
"""


@register(
    "lake_incremental_agg_orders",
    oracle=_AGG_ORACLE,
    doc="incremental aggregate maintenance from the change feed: per-customer totals folded forward by CDC deltas (insert/post add, delete/pre subtract) — never rescanning the new snapshot; oracle recomputes from the post state, proving fold == recompute",
)
def lake_incremental_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change feed's downstream consumer, as code: a persisted
    per-customer aggregate (sum of o_totalprice, order count) maintained
    INCREMENTALLY. Build the aggregate once over the base snapshot, run
    the same MERGE as ``lake_change_feed_orders``, then fold ONLY the CDC
    rows into the stored aggregate: insert/update_postimage add the row,
    delete/update_preimage subtract it — group keys the feed never
    touched are not even read (their stored rows carry over through the
    keyed upsert's anti-join). The oracle aggregates the post state
    directly, so a hash match proves fold == recompute.

    Exactness: sums live as DECIMAL in the lake table and fold by exact
    decimal addition (`operators/_decimal.py` convention); the final
    result casts to double once. The aggregate keys on NON-NULL
    o_custkey only (oracle-mirrored): a NULL group key can never match
    itself through the keyed upsert's anti-join (ANSI), so a maintained
    metrics table must key on a real dimension — NULL-key facts stay in
    the fact table, they just have no per-customer row. At 100 TB this
    is the shape that makes a daily metrics table O(changed rows), not
    O(table): one CDC-sized shuffle per fold instead of a full-fact
    rescan.
    """

    def mutate(fact_dir: str, orders: DataFrame) -> None:
        updates = orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        # keep=2: the harness's table_changes reads snap_a by name
        upsert(spark, fact_dir, updates, key=["o_orderkey"], keep=2)

    return _run_incremental_agg(spark, sf_dir, mutate)


def _run_incremental_agg(spark: SparkSession, sf_dir: str, mutate) -> DataFrame:
    """Shared harness for the incremental-aggregate queries: build the
    base fact snapshot + its aggregate table, apply ``mutate(fact_dir,
    orders)`` (any combination of lake writers), fold the resulting
    change feed into the aggregate with the signed core
    ``view_maintenance.apply_agg_feed``, return it. The fold is mutation-
    agnostic by construction — it consumes only ``_change_type`` signs —
    which is exactly the property the delete-bearing variant proves."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    base = orders.filter(F.col("o_orderkey") % 3 != 0)
    fact_dir = tempfile.mkdtemp(prefix="pgcp_inc_agg_fact_")
    agg_dir = tempfile.mkdtemp(prefix="pgcp_inc_agg_table_")

    def _cleanup() -> None:
        shutil.rmtree(fact_dir, ignore_errors=True)
        shutil.rmtree(agg_dir, ignore_errors=True)

    try:
        snap_a = write_snapshot(base, fact_dir)
        write_snapshot(build_agg_over(base, "o_custkey", "o_totalprice"), agg_dir)
        mutate(fact_dir, orders)
        feed = table_changes(spark, fact_dir, snap_a, key=["o_orderkey"])
        apply_agg_feed(spark, agg_dir, feed, "o_custkey", "o_totalprice")
        result = materialize(
            serve_agg(read_current(spark, agg_dir), "o_custkey")
            .toDF("o_custkey", "sum_totalprice", "order_cnt")
            .orderBy("o_custkey")
        )
    except BaseException:
        _cleanup()
        raise
    reclaim_by_mode(fact_dir, agg_dir)
    return result


_DELETE_ORACLE = """
WITH o AS (SELECT o_orderkey, o_totalprice FROM orders)
SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
       'insert' AS _change_type
FROM o WHERE o_orderkey % 3 = 0 AND o_orderkey % 5 = 0
UNION ALL
SELECT o_orderkey, o_totalprice, 'update_preimage' FROM o
WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0
  AND o_totalprice * 2 IS DISTINCT FROM o_totalprice
UNION ALL
SELECT o_orderkey, o_totalprice * 2, 'update_postimage' FROM o
WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0
  AND o_totalprice * 2 IS DISTINCT FROM o_totalprice
UNION ALL
SELECT o_orderkey, o_totalprice, 'delete' FROM o
WHERE o_orderkey % 3 <> 0 AND o_orderkey % 7 = 0 AND o_orderkey % 5 <> 0
ORDER BY o_orderkey, _change_type
"""


@register(
    "lake_delete_change_feed_orders",
    oracle=_DELETE_ORACLE,
    doc="lake DELETE through the change feed: base orders snapshot, MERGE of doubled totals, then a predicate DELETE of the %7 slice — the feed reports inserts, update pre/postimages AND delete rows (previously unreachable from any writer)",
)
def lake_delete_change_feed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delete contract of the change feed, driven end to end by the
    new ``lake.delete`` writer: snapshot A = orders keys with
    ``o_orderkey % 3 != 0``; commit 1 MERGEs doubled totals for every 5th
    key (same batch as ``lake_change_feed_orders``); commit 2 DELETEs
    WHERE ``o_orderkey % 7 == 0 AND o_orderkey % 5 != 0`` (the retention
    shape — predicate addressing, disjoint from the updated keys so the
    batch history stays key-unique); feed = ``table_changes(A, current)``
    across BOTH commits. Deleted rows surface with their pre-delete
    column values and ``_change_type='delete'`` — the arm of the feed's
    classification that had no producing writer before this round. The
    ANSI DELETE NULL rule (predicate NULL → row kept) is exercised by
    the nulls-lake sweep, where NULL keys make the predicate NULL.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = orders.filter(F.col("o_orderkey") % 3 != 0)
    updates = orders.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    tdir = tempfile.mkdtemp(prefix="pgcp_delete_feed_")
    try:
        snap_a = write_snapshot(base, tdir)
        # keep=3 across the two mutations: table_changes below reads
        # snap_a by name
        upsert(spark, tdir, updates, key=["o_orderkey"], keep=3)
        delete(
            spark,
            tdir,
            predicate=(F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 5 != 0),
            keep=3,
        )
        result = materialize(
            table_changes(spark, tdir, snap_a, key=["o_orderkey"]).orderBy(
                "o_orderkey", "_change_type"
            )
        )
    except BaseException:
        shutil.rmtree(tdir, ignore_errors=True)
        raise
    reclaim_by_mode(tdir)
    return result


_AGG_CDC_ORACLE = """
WITH post AS (
    SELECT o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) AS p
    FROM orders
    WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0
      AND o_custkey IS NOT NULL
    UNION ALL
    SELECT o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) * 2
    FROM orders WHERE o_orderkey % 5 = 0 AND o_custkey IS NOT NULL
)
SELECT o_custkey,
       CAST(SUM(p) AS DOUBLE) AS sum_totalprice,
       COUNT(*) AS order_cnt
FROM post GROUP BY o_custkey ORDER BY o_custkey
"""


@register(
    "lake_incremental_agg_orders_cdc",
    oracle=_AGG_CDC_ORACLE,
    doc="incremental aggregate maintenance from a CDC batch WITH DELETES: merge_cdc applies updates + WHEN-MATCHED-DELETEs in one commit, the fold subtracts real delete rows — oracle recomputes from the post state, proving fold == recompute with the subtract path live",
)
def lake_incremental_agg_orders_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``lake_incremental_agg_orders`` with the fold's subtract path
    exercised by REAL delete rows: the mutation is one ``merge_cdc``
    batch marking every 5th key an upsert (doubled total) and every 7th
    non-5th key a delete (WHEN MATCHED THEN DELETE; the %21 keys outside
    the base prove the unmatched-delete no-op). The fold itself is the
    signed core every signed fold shares (``apply_agg_feed``), so a hash
    match proves the subtract arm handles ``delete`` rows exactly as it
    handles ``update_preimage`` (full-row removal vs value replacement),
    which the delete-free original could never show."""

    def mutate(fact_dir: str, orders: DataFrame) -> None:
        # keep=2: the harness's table_changes reads snap_a by name
        merge_cdc(spark, fact_dir, standard_cdc_batch(orders), key=["o_orderkey"], keep=2)

    return _run_incremental_agg(spark, sf_dir, mutate)


_CDC_MOR_ORACLE = """
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0
UNION ALL
SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
FROM orders WHERE o_orderkey % 5 = 0
ORDER BY o_orderkey
"""


@register(
    "lake_cdc_merge_on_read_orders",
    oracle=_CDC_MOR_ORACLE,
    doc="CDC batch applied MERGE-ON-READ: merge_cdc_delta lands updates as an O(batch) data delta + deletes as an O(keys) tombstone (base untouched), reader resolves base ∪ deltas — hash-exact vs the post-CDC state recomputed from scratch",
)
def lake_cdc_merge_on_read_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-10 CDC hot path: the SAME batch shape as
    ``lake_incremental_agg_orders_cdc`` (every 5th key an upsert with
    doubled total — inserts where the key is outside the base — and
    every 7th non-5th key a delete, with the %21 keys outside the base
    proving the unmatched-delete no-op) applied through
    ``lake.merge_cdc_delta`` instead of the copy-on-write ``merge_cdc``:
    one data delta + one tombstone, the base snapshot untouched
    (guarded by an explicit raise). The result is the merge-on-read
    view, hash-checked against the post-CDC state recomputed from the
    orders table — proving the delta-resolved read loses nothing vs the
    rewrite it replaces."""
    from pgcp_spark.sources.lake import (
        current_snapshot,
        merge_cdc_delta,
        read_current_with_deltas,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = orders.filter(F.col("o_orderkey") % 3 != 0)
    tdir = tempfile.mkdtemp(prefix="pgcp_cdc_mor_")
    try:
        write_snapshot(base, tdir)
        before = current_snapshot(tdir)
        merge_cdc_delta(spark, tdir, standard_cdc_batch(orders), key=["o_orderkey"])
        if current_snapshot(tdir) != before:
            raise RuntimeError("CDC apply must land as deltas, not a rewrite")
        result = materialize(
            read_current_with_deltas(spark, tdir, key=["o_orderkey"]).orderBy(
                "o_orderkey"
            )
        )
    except BaseException:
        shutil.rmtree(tdir, ignore_errors=True)
        raise
    reclaim_by_mode(tdir)
    return result


@register(
    "lake_cdc_pending_changes_orders",
    # the SAME oracle as lake_delete_change_feed_orders (imported, not
    # copied): the copy-on-write path got there via two commits + a
    # snapshot diff; this path lands ONE merge_cdc_delta batch and reads
    # the pending (un-flattened) feed — a hash match proves the
    # merge-on-read CDC view is bit-identical to the rewrite-based feed
    oracle=_DELETE_ORACLE,
    doc="change feed over UN-FLATTENED deltas: one merge_cdc_delta batch (updates + deletes) lands as data delta + tombstone, pending_changes classifies base-vs-view — same oracle as the two-commit copy-on-write feed",
)
def lake_cdc_pending_changes_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delta layer's CDC story completed (round 10): the SAME
    mutations as ``lake_delete_change_feed_orders`` (doubled totals for
    every 5th key, deletes for the %7-non-5 slice) land as ONE
    ``merge_cdc_delta`` batch — base untouched — and
    ``lake.pending_changes`` reads what a merge-on-read reader sees that
    the base doesn't: inserts, update pre/postimages, and delete rows
    with their pre-delete values. Hash-matching the copy-on-write feed's
    oracle proves a downstream CDC consumer can follow delta-landed
    mutations BETWEEN compactions with the exact vocabulary (and
    latency) it gets from rewrite-based commits. The diff is bounded at
    batch size: both sides prune to delta-touched keys before the
    full-outer join (broadcast semi — no corpus shuffle)."""
    from pgcp_spark.sources.lake import merge_cdc_delta, pending_changes

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = orders.filter(F.col("o_orderkey") % 3 != 0)
    tdir = tempfile.mkdtemp(prefix="pgcp_cdc_pending_")
    try:
        write_snapshot(base, tdir)
        merge_cdc_delta(spark, tdir, standard_cdc_batch(orders), key=["o_orderkey"])
        result = materialize(
            pending_changes(spark, tdir, key=["o_orderkey"]).orderBy(
                "o_orderkey", "_change_type"
            )
        )
    except BaseException:
        shutil.rmtree(tdir, ignore_errors=True)
        raise
    reclaim_by_mode(tdir)
    return result


# --- MIN/MAX from the change feed, no view in between (round 12) -----------

_MINMAX_AGG_ORACLE = """
WITH post AS (
    SELECT o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) AS p
    FROM orders
    WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0
      AND o_custkey IS NOT NULL
    UNION ALL
    SELECT o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) * 2
    FROM orders WHERE o_orderkey % 5 = 0 AND o_custkey IS NOT NULL
)
SELECT o_custkey,
       CAST(MIN(p) AS DOUBLE) AS min_total,
       CAST(MAX(p) AS DOUBLE) AS max_total,
       COUNT(*) AS order_cnt
FROM post GROUP BY o_custkey ORDER BY o_custkey
"""


@register(
    "lake_incremental_minmax_orders",
    oracle=_MINMAX_AGG_ORACLE,
    doc=(
        "MIN/MAX maintained directly from a fact table's change feed (no "
        "view in between): inserts/postimages fold via least/greatest, and a "
        "removal rescans ONLY the groups where it tied a stored bound — "
        "through the CLUSTER BY o_custkey fact with pushed-IN pruning; "
        "oracle recomputes min/max from the post state, proving "
        "fold+selective-rescan == recompute on the direct path too"
    ),
)
def lake_incremental_minmax_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cascade's MIN/MAX core (``apply_minmax_feed``) applied to the
    simplest consumer shape — a per-customer min/max/count maintained
    straight from the fact's snapshot-diff feed. The CDC batch (every
    5th key doubled, every non-5th 7th deleted) exercises both arms:
    doubled postimages raise maxima through the fold; their preimages
    and the deletes remove values that tie group bounds, and exactly
    those groups rescan from the fact (pushed-IN + the CLUSTER BY
    o_custkey layout, so the rescan reads only affected files)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    base = orders.filter(F.col("o_orderkey") % 3 != 0)
    fact_dir = tempfile.mkdtemp(prefix="pgcp_inc_mm_fact_")
    agg_dir = tempfile.mkdtemp(prefix="pgcp_inc_mm_agg_")

    def _cleanup() -> None:
        shutil.rmtree(fact_dir, ignore_errors=True)
        shutil.rmtree(agg_dir, ignore_errors=True)

    try:
        snap_a = write_snapshot(base, fact_dir, cluster_by=["o_custkey"])
        write_snapshot(
            build_minmax_over(base, "o_custkey", "o_totalprice"), agg_dir
        )
        # keep=2: table_changes below reads snap_a by name
        merge_cdc(
            spark, fact_dir, standard_cdc_batch(orders), key=["o_orderkey"],
            keep=2, cluster_by=["o_custkey"],
        )
        feed = table_changes(spark, fact_dir, snap_a, key=["o_orderkey"])
        # the rescan source is the FACT itself here
        apply_minmax_feed(
            spark, agg_dir, feed, "o_custkey", "o_totalprice",
            rescan_source=lambda: read_current(spark, fact_dir),
        )
        result = materialize(
            serve_minmax(read_current(spark, agg_dir), "o_custkey").orderBy(
                "o_custkey"
            )
        )
    except BaseException:
        _cleanup()
        raise
    reclaim_by_mode(fact_dir, agg_dir)
    return result


# --- exact COUNT DISTINCT from the change feed, no view in between (r13) ----

_DISTINCT_AGG_ORACLE = """
WITH post AS (
    SELECT o_custkey, o_orderpriority FROM orders
    WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0
    UNION ALL
    SELECT o_custkey, 'X-RECLASS' FROM orders WHERE o_orderkey % 5 = 0
)
SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS distinct_cnt
FROM post
WHERE o_orderpriority IS NOT NULL AND o_custkey IS NOT NULL
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@register(
    "lake_incremental_distinct_orders",
    oracle=_DISTINCT_AGG_ORACLE,
    doc=(
        "exact COUNT DISTINCT maintained directly from a fact table's change "
        "feed (no view in between): per-priority distinct customers via the "
        "per-(group, value) multiplicity support table — the support folds "
        "with the signed rule and the count changes only on 0-to-present / "
        "present-to-0 transitions, so deletes are exact from the support's "
        "own evidence (no rescan, the fact is never re-read); oracle "
        "recomputes the distinct counts from the post state"
    ),
)
def lake_incremental_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COUNT DISTINCT split on the simplest consumer shape: distinct
    customers per order priority maintained straight from the fact's
    snapshot-diff feed through ``apply_distinct_feed``. The CDC
    reclassifies every 5th key's priority to 'X-RECLASS' (its customer
    gains multiplicity in the new group and loses it in the old — both
    transition kinds fire when a customer's LAST order in a priority
    moves) and deletes every non-5th 7th."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    base = orders.filter(F.col("o_orderkey") % 3 != 0)
    fact_dir = tempfile.mkdtemp(prefix="pgcp_inc_dst_fact_")
    sup_dir = tempfile.mkdtemp(prefix="pgcp_inc_dst_sup_")
    agg_dir = tempfile.mkdtemp(prefix="pgcp_inc_dst_agg_")

    def _cleanup() -> None:
        for d in (fact_dir, sup_dir, agg_dir):
            shutil.rmtree(d, ignore_errors=True)

    try:
        snap_a = write_snapshot(base, fact_dir)
        write_snapshot(
            build_distinct_support(base, "o_orderpriority", "o_custkey"),
            sup_dir,
            cluster_by=["o_orderpriority"],
        )
        write_snapshot(
            build_distinct_over(base, "o_orderpriority", "o_custkey"), agg_dir
        )
        # keep=2: table_changes below reads snap_a by name
        merge_cdc(
            spark, fact_dir, standard_cdc_batch(orders, "o_orderpriority"),
            key=["o_orderkey"], keep=2,
        )
        feed = table_changes(spark, fact_dir, snap_a, key=["o_orderkey"])
        apply_distinct_feed(
            spark, sup_dir, agg_dir, feed, "o_orderpriority", "o_custkey"
        )
        result = materialize(
            read_distinct_agg(spark, agg_dir, "o_orderpriority").orderBy(
                "o_orderpriority"
            )
        )
    except BaseException:
        _cleanup()
        raise
    reclaim_by_mode(fact_dir, sup_dir, agg_dir)
    return result
