"""Streaming materialized-view maintenance: the IVM loop.

Completes the per-family streaming story for round 10's incremental
JOIN-view layer (``sources/view_maintenance.py``), the way each index
family got its ingest loop: CDC batches arrive as a stream of files;
each micro-batch (a) applies its batches to the fact's lake table
MERGE-ON-READ (``merge_cdc_delta`` — data delta + tombstone, base
untouched), (b) folds the SAME batch through ``fold_join_view`` into
the materialized ``fact ⋈ dim`` view, and (c) when a ``ViewSpec`` is
given, folds the view's changes into that aggregate kind's tables — so
view and aggregate track the fact with CDC-batch latency and no
base-table rescans anywhere in the loop. One driver runs every variant:
``run_ingest_view(spark, sf_dir, spec, txn)``.

    readStream(files) ──► foreachBatch, per CDC batch IN SEQ ORDER:
        merge_cdc_delta(fact, batch)           # fact stays current
        fold_join_view(view, batch-as-feed)    # view stays current
        spec.fold(view → spec tables)          # aggregate stays current
        loop.maybe_flatten(view)               # self-healing cadence
        [txn] occ_commit_group(members)        # one atomic publish

Design decisions, inherited from the loop family:

- **A CDC batch is its own change feed.** ``fold_join_view``'s fact arm
  needs only post rows and deleted keys — exactly what a CDC batch
  carries — so the streaming fold never diffs snapshots: upsert rows map
  to ``update_postimage`` (the fold treats insert/postimage identically:
  rebuild against the dim), delete rows to ``delete``.
- **Batch-boundary invariance by ordered sub-batches.** Unlike the
  ingest loops (whose folds are per-key replacement over key-disjoint
  days), consecutive CDC batches legitimately touch the SAME key — a
  later batch re-prices or resurrects a key an earlier one wrote — so
  coalescing two batches into one ``merge_cdc_delta`` call would violate
  its key-unique contract. The handler therefore splits a micro-batch by
  its data-derived ``seq`` and applies each complete batch in seq order
  (files are the source's atomic unit, so every seq present is whole):
  availableNow-in-one-trigger produces a bit-identical view to
  batch-at-a-time (pinned in tests/test_ingest_view.py).
- **At-least-once replay converges**: ``merge_cdc_delta`` replay is
  documented convergent, and the view fold's re-appended deltas shadow
  their twins through newest-wins (the IVM replay pin); the spec fold
  sees the shadow deltas as an empty state diff and skips.
- **The group commit is fold- and arity-agnostic.** Per-table commits
  let a reader between the fact's delta commit and the aggregate's fold
  commit see fact-advanced/agg-stale — the torn window ``sources/txn.py``
  retires for batch transactions. With ``txn`` each complete CDC batch is
  ONE group transaction: the per-table writes land first (invisible to
  manifest-resolved readers), then one ``occ_commit_group`` publishes
  {fact, view, *spec tables} atomically, whatever the spec — a
  ``read_group`` reader racing the stream observes only batch-consistent
  states (pinned in tests/test_ingest_view.py).

Every registered query's end state has a FULL SQL twin — the view (or
its aggregate) after three sequential CDC batches (price-doubling
upserts, retention deletes, then a re-pricing batch that also
RESURRECTS some deleted keys and inserts outside the base) must
hash-match the post-CDC join recomputed from the raw tables, and a
group-commit query shares its per-table twin's oracle.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgcp_spark.indexes import loop
from pgcp_spark.plans.materialize import materialize
from pgcp_spark.plans.overlap import overlap
from pgcp_spark.registry import register
from pgcp_spark.sources import load_table
from pgcp_spark.sources.lake import merge_cdc_delta, write_snapshot
from pgcp_spark.sources.txn import (
    commit_group,
    occ_commit_group,
    read_group,
    table_state,
)
from pgcp_spark.sources.view_maintenance import (
    AGG_SPEC,
    DISTINCT_SPEC,
    GROUP_COL,
    MINMAX_SPEC,
    ViewSpec,
    fold_join_view,
    member_dirs,
    serve_view_tables,
    stamp_applied_state,
    write_view_and_tables,
)

VIEW_COLS = ["o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment"]


def _cdc_batches(orders: DataFrame) -> DataFrame:
    """Three sequential CDC batches over the orders base (%3-filtered):
    seq 0 doubles every 5th key (inserts where the key is outside the
    base), seq 1 deletes every 7th non-5th key, seq 2 re-prices every
    11th key at original+1000 — touching keys seq 0 wrote, RESURRECTING
    %77 keys seq 1 deleted (commit order versions deletes against
    upserts), and inserting %33 keys the base never had."""
    ups5 = (
        orders.filter(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumn("_op", F.lit("upsert"))
        .withColumn("seq", F.lit(0))
    )
    dels7 = (
        orders.filter((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 5 != 0))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumn("_op", F.lit("delete"))
        .withColumn("seq", F.lit(1))
    )
    ups11 = (
        orders.filter(F.col("o_orderkey") % 11 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumn("_op", F.lit("upsert"))
        .withColumn("seq", F.lit(2))
    )
    return ups5.unionByName(dels7).unionByName(ups11)


def apply_cdc_batches(
    spark: SparkSession,
    micro_batch: DataFrame,
    fact_dir: str,
    view_dir: str,
    dim: DataFrame,
    after_fold=None,
    on_flatten=None,
    after_batch=None,
) -> None:
    """THE per-seq CDC apply loop under ``fold_view_batch``: apply every
    COMPLETE CDC batch in the micro-batch IN SEQ ORDER
    (module docstring: coalesced delivery must split — merge_cdc_delta
    is per-batch key-unique, and later batches overwrite earlier keys),
    landing merge-on-read on the fact and folding the join view; a CDC
    batch is its own change feed (upsert → update_postimage, delete →
    delete). The seq scan is bounded by the number of staged batches.

    Per batch, in this order: view fold → ``after_fold()`` (the downstream consumer's fold) →
    ``maybe_flatten`` → ``on_flatten()`` iff it fired (watermark
    re-anchoring) → ``after_batch()`` (the transactional group publish —
    it must see post-flatten states).

    ``micro_batch`` must be DETERMINISTIC under re-evaluation (the
    merge_cdc_delta contract): every caller passes either a file-stream
    micro-batch (pinned to specific staged parquet files) or a
    parquet-backed transform, so no checkpoint is taken here (r13
    wave 5 — the former unconditional materialize was one extra job
    per micro-batch; each seq's consumers re-scan the batch-sized
    source instead, and the fold checkpoints its own feed)."""
    # the same ONE distinct-collect job that orders the sub-batches also
    # reads each seq's op presence (r14) — fold_join_view's
    # ``fact_feed_types`` hint then skips the absent arm's write job for
    # one-sided batches (a pure-delete batch used to evaluate the whole
    # rebuild join just to discover it wrote nothing)
    ops_by_seq: dict[int, set[str]] = {}
    for r in micro_batch.select("seq", "_op").distinct().collect():
        ops_by_seq.setdefault(r[0], set()).add(r[1])
    for s in sorted(ops_by_seq):
        b = micro_batch.filter(F.col("seq") == s).drop("seq")
        feed = b.withColumn(
            "_change_type",
            F.when(F.col("_op") == "delete", F.lit("delete")).otherwise(
                F.lit("update_postimage")
            ),
        ).drop("_op")
        feed_types = {
            "delete" if op == "delete" else "update_postimage"
            for op in ops_by_seq[s]
        }
        # Fact landing and view fold run CONCURRENTLY (guide §2.6): both
        # consume the (checkpointed) batch `b`, write DISJOINT tables
        # (fact_dir / view_dir), and nothing downstream in this iteration
        # reads the fact table — the fold's feed IS the batch. overlap()
        # joins both before the next seq, preserving cross-batch order.
        overlap(
            lambda: merge_cdc_delta(
                spark, fact_dir, b, key=["o_orderkey"], ops=ops_by_seq[s]
            ),
            lambda: fold_join_view(
                spark,
                view_dir,
                view_key=["o_orderkey"],
                fact_feed=feed,
                dim_feed=None,
                dim_current=dim,
                fact_join_col="o_custkey",
                dim_join_col="c_custkey",
                fact_feed_types=feed_types,
            ),
        )
        if after_fold is not None:
            after_fold()
        if loop.maybe_flatten(spark, view_dir, key=["o_orderkey"]) is not None:
            if on_flatten is not None:
                on_flatten()
        if after_batch is not None:
            after_batch()


def fold_view_batch(
    spark: SparkSession,
    micro_batch: DataFrame,
    root: str,
    dim: DataFrame,
    spec: ViewSpec | None = None,
    txn: bool = False,
) -> None:
    """One micro-batch of the run laid out under ``root``
    (``member_dirs``): the shared apply loop, plus ``spec``'s fold after
    each CDC batch's view fold, plus — when the self-healing flatten
    fires — the re-stamp of every table ``spec`` owns (the flatten
    preserves data but renames the view state, and the re-stamp keeps
    the next fold on the prefix-pruned path). ``txn`` adds the group
    publish LAST, so the manifest pins post-flatten states. The stream
    is the group's single writer, so ``occ_commit_group``'s compute just
    captures the live post states; the CAS still guards against an
    operator accidentally racing a second owner (detect, never lose)."""
    dirs = member_dirs(root, spec)
    after_fold = on_flatten = after_batch = None
    if spec is not None:

        def after_fold() -> None:
            spec.fold(spark, dirs)

        def on_flatten() -> None:
            # the owned tables re-anchor independently to the same
            # committed view state — overlapped (§2.6)
            overlap(
                *[
                    lambda t=t: stamp_applied_state(spark, dirs[t], dirs["view"])
                    for t in spec.tables
                ]
            )

    if txn:

        def after_batch() -> None:
            occ_commit_group(
                root, lambda _state: {n: table_state(root, n) for n in dirs}
            )

    apply_cdc_batches(
        spark,
        micro_batch,
        dirs["fact"],
        dirs["view"],
        dim,
        after_fold=after_fold,
        on_flatten=on_flatten,
        after_batch=after_batch,
    )


def run_ingest_view(
    spark: SparkSession,
    sf_dir: str,
    spec: ViewSpec | None = None,
    txn: bool = False,
    max_files_per_trigger: int | None = 1,
) -> str:
    """Build the fact lake, the initial view and ``spec``'s stamped
    tables, stream the CDC batches through ``fold_view_batch``, and
    return the run dir holding one lake table per member
    (``member_dirs``; the caller owns it). With ``txn`` the run dir is a
    transaction group: the initial states are group-committed before the
    stream starts and every CDC batch publishes through the manifest.
    ``max_files_per_trigger=None`` coalesces all batches into one
    micro-batch — the ordered sub-batch split must make the end state
    bit-identical (pinned)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    base = orders.filter(F.col("o_orderkey") % 3 != 0)
    root = tempfile.mkdtemp(prefix="pgcp_ingest_view_")
    dirs = member_dirs(root, spec)
    staging = None
    try:
        view0 = base.join(
            dim.withColumnRenamed("c_custkey", "o_custkey"), on="o_custkey"
        ).select(*VIEW_COLS)
        batches = _cdc_batches(orders)

        def _stage() -> None:
            # assigns through nonlocal so the finally reclaims a staged
            # dir even when a sibling setup write fails
            nonlocal staging
            staging = loop.stage_group_files(
                batches, F.col("seq"), range(3), "pgcp_ingest_view_stream_"
            )

        overlap(  # fact lake, view + spec tables, CDC staging: independent (§2.6)
            lambda: write_snapshot(base, dirs["fact"]),
            lambda: write_view_and_tables(view0, dirs, spec),
            _stage,
        )
        if txn:
            # the group manifest needs every member's state — after the join
            commit_group(root, {n: table_state(root, n) for n in dirs})
        loop.run_availablenow_stream(
            spark,
            staging,
            batches.schema,
            lambda mb, _bid: fold_view_batch(spark, mb, root, dim, spec, txn),
            max_files_per_trigger,
        )
    except BaseException:
        shutil.rmtree(root, ignore_errors=True)
        raise
    finally:
        if staging is not None:
            shutil.rmtree(staging, ignore_errors=True)
    return root


def _serve_stream(
    spark: SparkSession, sf_dir: str, spec: ViewSpec | None = None, txn: bool = False
) -> DataFrame:
    """Run the stream and serve what it maintained: per-table runs read
    the live tables; group runs read the aggregate through the final
    manifest (``read_group``)."""
    root = run_ingest_view(spark, sf_dir, spec, txn)
    try:
        if txn:
            pinned = read_group(spark, root, {"agg": [GROUP_COL]})
            served = spec.serve(pinned["agg"])
        else:
            served = serve_view_tables(spark, member_dirs(root, spec), spec)
        result = materialize(served)
    except BaseException:
        shutil.rmtree(root, ignore_errors=True)
        raise
    loop.reclaim_by_mode(root)
    return result


_STREAM_VIEW_ORACLE = """
WITH postfact AS (
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1000
                WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE o_orderkey % 11 = 0
       OR o_orderkey % 5 = 0
       OR (o_orderkey % 3 <> 0 AND o_orderkey % 7 <> 0)
)
SELECT f.o_orderkey, f.o_custkey, f.o_totalprice, d.c_name, d.c_mktsegment
FROM postfact f JOIN customer d ON f.o_custkey = d.c_custkey
ORDER BY f.o_orderkey
"""


@register(
    "streaming_join_view_maintenance",
    oracle=_STREAM_VIEW_ORACLE,
    doc=(
        "streaming materialized-view maintenance: CDC batches stream in, each "
        "micro-batch lands merge-on-read on the fact AND folds the join view "
        "(delta-join, ordered sub-batches for boundary invariance) — final view "
        "hash-exact vs the post-CDC join recomputed from the raw tables"
    ),
)
def streaming_join_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVM loop end to end (module docstring): stream three
    sequential CDC batches — including same-key overwrites, a
    delete-then-resurrect arc, and out-of-base inserts — and serve the
    view the STREAM maintained, merge-on-read."""
    return _serve_stream(spark, sf_dir)


_STREAM_AGG_VIEW_ORACLE = """
WITH postfact AS (
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 11 = 0
                    THEN CAST(o_totalprice AS DECIMAL(12,2)) + 1000
                WHEN o_orderkey % 5 = 0
                    THEN CAST(o_totalprice AS DECIMAL(12,2)) * 2
                ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS p
    FROM orders
    WHERE o_orderkey % 11 = 0
       OR o_orderkey % 5 = 0
       OR (o_orderkey % 3 <> 0 AND o_orderkey % 7 <> 0)
)
SELECT d.c_mktsegment,
       CAST(SUM(f.p) AS DOUBLE) AS sum_mktsegment_total,
       COUNT(*) AS order_cnt
FROM postfact f JOIN customer d ON f.o_custkey = d.c_custkey
WHERE d.c_mktsegment IS NOT NULL
GROUP BY d.c_mktsegment
ORDER BY d.c_mktsegment
"""
# the NOT NULL mirrors build_agg_over's NULL-group-key exclusion (the
# keyed-upsert ANSI contract; caught by the nulls edge lake)


@register(
    "streaming_agg_join_view_maintenance",
    oracle=_STREAM_AGG_VIEW_ORACLE,
    doc=(
        "streaming cascade IVM: CDC batches stream in, each micro-batch lands "
        "merge-on-read on the fact, folds the join view, AND folds the "
        "per-segment aggregate from the view's state-diff feed (watermarked — "
        "no flatten coupling; re-anchored when the self-healing flatten fires) "
        "— final aggregate hash-exact vs the post-CDC aggregated join "
        "recomputed from the raw tables"
    ),
)
def streaming_agg_join_view_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full streaming cascade end to end: three sequential CDC
    batches — same-key overwrites, delete-then-resurrect, out-of-base
    inserts — maintain fact, join view, AND the per-segment aggregate,
    and the served aggregate is the STREAM's fold, never a recompute."""
    return _serve_stream(spark, sf_dir, AGG_SPEC)


_STREAM_MINMAX_VIEW_ORACLE = """
WITH postfact AS (
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 11 = 0
                    THEN CAST(o_totalprice AS DECIMAL(12,2)) + 1000
                WHEN o_orderkey % 5 = 0
                    THEN CAST(o_totalprice AS DECIMAL(12,2)) * 2
                ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS p
    FROM orders
    WHERE o_orderkey % 11 = 0
       OR o_orderkey % 5 = 0
       OR (o_orderkey % 3 <> 0 AND o_orderkey % 7 <> 0)
)
SELECT d.c_mktsegment,
       CAST(MIN(f.p) AS DOUBLE) AS min_total,
       CAST(MAX(f.p) AS DOUBLE) AS max_total,
       COUNT(*) AS order_cnt
FROM postfact f JOIN customer d ON f.o_custkey = d.c_custkey
WHERE d.c_mktsegment IS NOT NULL
GROUP BY d.c_mktsegment
ORDER BY d.c_mktsegment
"""


@register(
    "streaming_minmax_join_view_maintenance",
    oracle=_STREAM_MINMAX_VIEW_ORACLE,
    doc=(
        "streaming MIN/MAX cascade: CDC batches stream in, each micro-batch "
        "lands merge-on-read on the fact, folds the join view, AND folds the "
        "per-segment min/max from the view's state-diff feed — deletes and "
        "re-pricings rescan only bound-tying groups through the view; final "
        "aggregate hash-exact vs min/max recomputed from the post-CDC join"
    ),
)
def streaming_minmax_join_view_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MIN/MAX cascade as a streaming loop — the signed twin's
    delete-then-resurrect and re-pricing arcs are exactly the shapes
    that force selective rescans, and the served bounds are the
    STREAM's fold, never a recompute."""
    return _serve_stream(spark, sf_dir, MINMAX_SPEC)


@register(
    "streaming_cascade_group_commit",
    oracle=_STREAM_AGG_VIEW_ORACLE,
    doc=(
        "streaming cascade IVM through the cross-table atomic commit: each CDC "
        "batch lands fact delta + view fold + aggregate fold, then publishes "
        "the trio as ONE group-manifest transaction — a read_group reader "
        "racing the stream sees only batch-consistent states (pinned in "
        "tests), and the served aggregate is the final manifest's; same "
        "oracle as the per-table streaming cascade, so a hash match proves "
        "the atomic routing changes nothing about the result"
    ),
)
def streaming_cascade_group_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming cascade with every batch published atomically: the
    same three sequential CDC batches as the per-table loop, but served
    through the manifest-pinned group read — the end state must be
    hash-identical to the non-transactional stream's."""
    return _serve_stream(spark, sf_dir, AGG_SPEC, txn=True)


@register(
    "streaming_minmax_cascade_group_commit",
    oracle=_STREAM_MINMAX_VIEW_ORACLE,
    doc=(
        "streaming MIN/MAX cascade through the cross-table atomic commit: each "
        "CDC batch lands fact delta + view fold + min/max fold (bound-tying "
        "removals rescan only their groups), then publishes the trio as ONE "
        "group-manifest transaction; same oracle as the per-table MIN/MAX "
        "stream, so a hash match proves the atomic routing is fold-agnostic"
    ),
)
def streaming_minmax_cascade_group_commit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The fourth streaming variant (round 13): the non-distributive
    MIN/MAX fold composed with the group publish, served through the
    manifest-pinned group read — end state must be hash-identical to
    ``streaming_minmax_join_view_maintenance``."""
    return _serve_stream(spark, sf_dir, MINMAX_SPEC, txn=True)


_STREAM_DISTINCT_VIEW_ORACLE = """
WITH postfact AS (
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_orderkey % 11 = 0
       OR o_orderkey % 5 = 0
       OR (o_orderkey % 3 <> 0 AND o_orderkey % 7 <> 0)
)
SELECT d.c_mktsegment, COUNT(DISTINCT d.c_name) AS distinct_cnt
FROM postfact f JOIN customer d ON f.o_custkey = d.c_custkey
WHERE d.c_mktsegment IS NOT NULL AND d.c_name IS NOT NULL
GROUP BY d.c_mktsegment
ORDER BY d.c_mktsegment
"""


@register(
    "streaming_distinct_join_view_maintenance",
    oracle=_STREAM_DISTINCT_VIEW_ORACLE,
    doc=(
        "streaming exact-COUNT-DISTINCT cascade: CDC batches stream in, each "
        "micro-batch lands merge-on-read on the fact, folds the join view, "
        "AND folds per-segment distinct active customers via the multiplicity "
        "support table — a delete that removes a customer's last order in a "
        "segment decrements the count exactly, from the support's own "
        "evidence; final aggregate hash-exact vs COUNT(DISTINCT) recomputed "
        "from the post-CDC join"
    ),
)
def streaming_distinct_join_view_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The COUNT DISTINCT cascade as a streaming loop — the delete-then-
    resurrect arc (%77 keys deleted in seq 1, re-priced back in seq 2)
    drives the same (segment, customer) pair through present-to-0 and
    back to 0-to-present across micro-batches, and the served counts
    are the STREAM's fold, never a recompute."""
    return _serve_stream(spark, sf_dir, DISTINCT_SPEC)


@register(
    "streaming_distinct_cascade_group_commit",
    oracle=_STREAM_DISTINCT_VIEW_ORACLE,
    doc=(
        "streaming exact-COUNT-DISTINCT cascade through the cross-table atomic "
        "commit: each CDC batch lands fact delta + view fold + support fold + "
        "distinct-count fold, then publishes the FOUR-member quartet as ONE "
        "group-manifest transaction — the first fold with two downstream "
        "tables, proving the group commit arity-agnostic; same oracle as the "
        "per-table distinct stream, so the hash proves the routing changes "
        "nothing"
    ),
)
def streaming_distinct_cascade_group_commit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The fifth streaming variant: the support-table fold composed with
    the group publish, served through the manifest-pinned group read —
    end state must be hash-identical to
    ``streaming_distinct_join_view_maintenance``."""
    return _serve_stream(spark, sf_dir, DISTINCT_SPEC, txn=True)


__all__ = [
    "apply_cdc_batches",
    "fold_view_batch",
    "run_ingest_view",
    "streaming_join_view_maintenance",
    "streaming_agg_join_view_maintenance",
    "streaming_minmax_join_view_maintenance",
    "streaming_cascade_group_commit",
    "streaming_minmax_cascade_group_commit",
    "streaming_distinct_join_view_maintenance",
    "streaming_distinct_cascade_group_commit",
]
