"""Fold-vs-recompute cost A/B for one aggregate kind of the join-view
cascade, as the table under it grows — one ``ViewSpec`` per kind.

    python tools/fold_ab.py {agg,minmax,distinct,topk}

Sizes and run counts come from ``<PREFIX>_AB_SIZES='[...]'`` and
``<PREFIX>_AB_RUNS`` (prefix CASCADE for agg, else the kind upper-cased;
default sizes 1M/16M/64M rows, 3 runs, median reported).

- ``agg`` times the whole cascade cycle over a synthetic FACT (fixed dim
  of 1 000 keys, fixed CDC batch of 2 000 upserts + 1 000 deletes):
  merge_cdc_delta(fact) → fold_join_view (batch-as-feed) → the aggregate
  fold from the stamped watermark. The recompute a feedless consumer
  must run re-joins the post fact with the dim and re-aggregates.
- ``minmax`` / ``distinct`` / ``topk`` time the fold alone over a
  synthetic VIEW of 400 segments, the CDC batch landing straight on the
  view as the feed source: 5 deletes of per-group sentinel rows (the
  unique minimum → a MIN/MAX rescan; a single-holder value → a
  present→0 transition; the rank-1 member → a top-k rescan) plus 2 000
  upserts (raising maxima; a brand-new value in every group; promotions
  into every top-k). The recompute is the spec's build over the whole
  post view.

The served fold must equal the served recompute on every run (the A/B
is also a correctness check). Honest framing: the fold is many small
Spark jobs with fixed overhead while the recompute is one scan-bound
pipeline, so at toy scale the recompute WINS — the product is the slope
(fold flat in N, recompute linear) and the crossover, exactly like the
ANN family's exact-vs-IVF bracket (ANN_LEG_EXACT_BELOW).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from dataclasses import replace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pgcp_spark.session import get_spark
from pgcp_spark.sources.lake import (
    merge_cdc_delta,
    read_current,
    read_current_with_deltas,
    write_snapshot,
)
from pgcp_spark.sources.view_maintenance import (
    AGG_SPEC,
    DISTINCT_SPEC,
    MINMAX_SPEC,
    TOPK_K,
    TOPK_SPEC,
    fold_join_view,
    member_dirs,
    write_spec_tables,
    write_view_and_tables,
)

DIM_KEYS = 1_000  # agg: fixed dim
CASCADE_DELS = 1_000  # agg: deletes per CDC batch
NGROUPS = 400  # view kinds: segments
NVALUES = 32  # distinct: priorities per segment
ENDANGERED = 5  # view kinds: sentinel rows each batch deletes
BATCH_UPS = 2_000


def _price():
    return (F.col("id") * 7919) % 100_000 / 100.0


# view kinds: (spec, body value, sentinel value, upsert value for run r,
# printed scope note)
VIEW_KINDS = {
    "minmax": (
        MINMAX_SPEC,
        lambda: 10.0 + _price(),
        lambda: F.lit(1.0),
        lambda r: F.lit(1_000_000.0),
        f"(rescan {ENDANGERED}/{NGROUPS} groups)",
    ),
    "distinct": (
        replace(DISTINCT_SPEC, value_col="o_orderpriority"),
        lambda: F.concat(F.lit("P"), F.col("id") % NVALUES),
        lambda: F.concat(F.lit("PSOLO"), F.col("id")),
        lambda r: F.concat(F.lit("PNEW"), F.lit(r)),
        f"(support {NGROUPS * NVALUES + NGROUPS} pairs, no rescan)",
    ),
    "topk": (
        TOPK_SPEC,
        _price,
        lambda: F.lit(1_000_000.0),
        lambda r: F.lit(500_000.0),
        f"(rescan {ENDANGERED}/{NGROUPS} groups, k={TOPK_K})",
    ),
}


def _seg(group):
    return F.concat(F.lit("seg"), group).alias("c_mktsegment")


def median(xs):
    s = sorted(xs)
    return s[len(s) // 2]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _cascade_run(spark, n, run, dirs):
    """One agg A/B round: (fold seconds, recompute seconds)."""
    dim = spark.range(DIM_KEYS).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("seg"), (F.col("id") % 25)).alias("c_mktsegment"),
    )
    dim_o = dim.withColumnRenamed("c_custkey", "o_custkey")
    fact = spark.range(n).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % DIM_KEYS).alias("o_custkey"),
        _price().alias("o_totalprice"),
    )
    write_snapshot(fact, dirs["fact"])
    view0 = fact.join(dim_o, on="o_custkey").select(
        "o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment"
    )
    write_view_and_tables(view0, dirs, AGG_SPEC)
    # fixed-size CDC batch, disjoint key bands per run; even upsert keys /
    # odd delete keys: merge_cdc_delta's batch must be key-unique
    lo = 100 + run
    ups = (
        spark.range(BATCH_UPS)
        .select((2 * (F.col("id") * 997 + lo)).alias("o_orderkey"))
        .withColumn("o_custkey", F.col("o_orderkey") % DIM_KEYS)
        .withColumn("o_totalprice", F.lit(42.5))
        .withColumn("_op", F.lit("upsert"))
    )
    dels = (
        spark.range(CASCADE_DELS)
        .select((2 * (F.col("id") * 991 + lo) + 1).alias("o_orderkey"))
        .withColumn("o_custkey", F.lit(None).cast("long"))
        .withColumn("o_totalprice", F.lit(None).cast("double"))
        .withColumn("_op", F.lit("delete"))
    )
    batch = ups.unionByName(dels)

    t0 = time.monotonic()
    merge_cdc_delta(spark, dirs["fact"], batch, key=["o_orderkey"])
    feed = batch.withColumn(
        "_change_type",
        F.when(F.col("_op") == "delete", F.lit("delete")).otherwise(
            F.lit("update_postimage")
        ),
    ).drop("_op")
    fold_join_view(
        spark,
        dirs["view"],
        view_key=["o_orderkey"],
        fact_feed=feed,
        dim_feed=None,
        dim_current=dim,
        fact_join_col="o_custkey",
        dim_join_col="c_custkey",
    )
    AGG_SPEC.fold(spark, dirs)
    folded = _rows(AGG_SPEC.serve(read_current(spark, dirs["agg"])))
    fold_s = time.monotonic() - t0

    t0 = time.monotonic()
    post = read_current_with_deltas(spark, dirs["fact"], key=["o_orderkey"])
    recomputed = AGG_SPEC.build(post.join(dim_o, on="o_custkey"))["agg"]
    rec = _rows(AGG_SPEC.serve(recomputed))
    rec_s = time.monotonic() - t0
    assert folded == rec, f"fold != recompute at n={n}"
    return fold_s, rec_s


def _view_run(spark, kind, n, run, dirs):
    """One minmax/distinct/topk A/B round: (fold seconds, recompute seconds)."""
    spec, body_v, sentinel_v, ups_v, _ = VIEW_KINDS[kind]
    v = spec.value_col
    body = spark.range(n).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % NGROUPS).alias("o_custkey"),
        body_v().alias(v),
        _seg(F.col("id") % NGROUPS),
    )
    # one sentinel row per group (ids n .. n+NGROUPS-1), deletable
    sentinels = spark.range(NGROUPS).select(
        (F.col("id") + n).alias("o_orderkey"),
        F.col("id").alias("o_custkey"),
        sentinel_v().alias(v),
        _seg(F.col("id")),
    )
    view = body.unionByName(sentinels)
    # CLUSTER BY the group column: a rescan's pushed-IN prunes to files
    write_snapshot(view, dirs["view"], cluster_by=["c_mktsegment"])
    write_spec_tables(spec, view, dirs)
    # disjoint sentinel groups per run
    lo = (run * ENDANGERED) % (NGROUPS - ENDANGERED)
    dels = spark.range(ENDANGERED).select(
        (F.col("id") + n + lo).alias("o_orderkey"),
        F.lit(None).cast("long").alias("o_custkey"),
        F.lit(None).cast(view.schema[v].dataType).alias(v),
        F.lit(None).cast("string").alias("c_mktsegment"),
        F.lit("delete").alias("_op"),
    )
    ups = spark.range(BATCH_UPS).select(
        (F.col("id") + n + NGROUPS + run * BATCH_UPS).alias("o_orderkey"),
        (F.col("id") % NGROUPS).alias("o_custkey"),
        ups_v(run).alias(v),
        _seg(F.col("id") % NGROUPS),
        F.lit("upsert").alias("_op"),
    )

    t0 = time.monotonic()
    merge_cdc_delta(spark, dirs["view"], dels.unionByName(ups), key=["o_orderkey"])
    spec.fold(spark, dirs)
    folded = _rows(spec.serve(read_current(spark, dirs["agg"])))
    fold_s = time.monotonic() - t0

    t0 = time.monotonic()
    post = read_current_with_deltas(spark, dirs["view"], key=["o_orderkey"])
    rec = _rows(spec.serve(spec.build(post)["agg"]))
    rec_s = time.monotonic() - t0
    assert folded == rec, f"fold != recompute at n={n}"
    return fold_s, rec_s


def main():
    kinds = ["agg", *VIEW_KINDS]
    if len(sys.argv) != 2 or sys.argv[1] not in kinds:
        raise SystemExit(f"usage: python tools/fold_ab.py {{{','.join(kinds)}}}")
    kind = sys.argv[1]
    prefix = "CASCADE" if kind == "agg" else kind.upper()
    sizes = json.loads(
        os.environ.get(f"{prefix}_AB_SIZES", "[1000000, 16000000, 64000000]")
    )
    runs = int(os.environ.get(f"{prefix}_AB_RUNS", "3"))
    spec = AGG_SPEC if kind == "agg" else VIEW_KINDS[kind][0]
    note = "" if kind == "agg" else " " + VIEW_KINDS[kind][4]

    spark = get_spark(f"{kind}_fold_ab")
    for n in sizes:
        fold_ts, rec_ts = [], []
        for run in range(runs):
            root = tempfile.mkdtemp(prefix=f"{kind}_ab_")
            try:
                dirs = member_dirs(root, spec)
                if kind == "agg":
                    fold_s, rec_s = _cascade_run(spark, n, run, dirs)
                else:
                    fold_s, rec_s = _view_run(spark, kind, n, run, dirs)
            finally:
                shutil.rmtree(root, ignore_errors=True)
            fold_ts.append(fold_s)
            rec_ts.append(rec_s)
        print(
            f"n={n:>9}: {kind} fold {median(fold_ts):6.2f} s{note}   "
            f"recompute {median(rec_ts):6.2f} s",
            flush=True,
        )


if __name__ == "__main__":
    main()
