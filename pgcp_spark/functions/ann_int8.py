"""Scalar-quantized (int8) IVF probe: 4× smaller candidate scans,
exact float re-scoring of the survivors.

At 100 TB the probe join's cost is dominated by scanning the probed
lists' vector files; symmetric int8 quantization (per-vector scale =
max|x|/127 — the convention ``sim_embedding_int8_quantize`` already
hash-checks) shrinks that scan ~4× while cosine survives quantization
almost untouched: cos(a, b) ≈ cos(q_a, q_b) because each vector's scale
cancels out of its own normalization. This module is the standard
two-stage production shape (scalar-quantized candidates + refine from
full-precision storage — the public FAISS ``SQ8`` + refine / Lucene
scalar-quantized HNSW pattern):

    sidecar:  ``ensure_int8_sidecar`` derives ``qvectors/`` from an
              existing float IVF index's committed BASE vectors —
              (vec_id, list_id, qvec array<tinyint>, qnrm) CLUSTER BY
              (list_id, vec_id), the same pruning layout as the float
              table. An acceleration structure, NOT a source of truth:
              it is regenerated from the flattened base on the
              compaction cadence (its content-hash name pins it to the
              vectors snapshot it was derived from, so a stale sidecar
              is structurally unreachable — the harness discipline).
              Pending fold/tombstone deltas do NOT invalidate it: the
              probe resolves them merge-on-read (below), so the
              quantized tier keeps serving a loop-maintained index
              between compactions — the same deferred-merge cost model
              as every other reader of the delta layer.
    probe:    ``batch_vs_int8_index`` routes queries to nprobe lists
              with the float index's own centroids, scans ONLY the
              sidecar for candidates (int8 arrays — the 4× win), scores
              approximate cosine JVM-side (zip_with/aggregate over
              int-cast tinyints — no Python in the corpus-sized path),
              keeps the top ``rescore_factor × top_k`` per query, and
              — when fold/tombstone deltas are pending — resolves them
              merge-on-read: delta-touched and tombstoned keys are
              anti-joined OFF the quantized base side (their base rows
              are superseded or dead), and every LIVE delta row in a
              probed list joins the candidate pool directly (exact,
              unranked — the delta side is batch-sized under the
              ``maybe_flatten`` cadence, so skipping stage-1 ranking
              costs O(batch) refine rows and strictly helps recall),
              RE-SCORES exactly those candidates from the float vectors
              table (a pushed vec_id IN point-lookup, candidate-count
              rows) with ``batch_vs_ann_index``'s exact expression
              shapes — so every RETURNED score is bit-identical to the
              float kernel's, and quantization can only affect WHICH
              candidates survive, never their reported values (pinned
              in tests/test_ann_int8.py).

Approximate by contract twice over (nprobe of k lists × int8 candidate
ordering), so the registered query is rows-only with TWO floors pinned:
overlap vs the float IVF probe at the same nprobe (isolates the
quantization loss) and overlap vs exact brute force (the end-to-end
recall the user feels).

Reference anchor: none — north-star similarity-search scale path,
extending functions/ann_index.py (round 6) and the int8 storage
transform in functions/similarity.py.
"""

from __future__ import annotations

import os
import shutil
from functools import reduce

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pgcp_spark.functions.ann_index import (
    _assign,
    _batch,
    _load_centroids,
    _VECTORS_CLUSTER,
    ensure_ann_index,
)
from pgcp_spark.plans.materialize import materialize
from pgcp_spark.registry import register
from pgcp_spark.sources.lake import (
    current_snapshot,
    delta_names,
    read_current,
    split_deltas,
    write_snapshot,
)

RESCORE_FACTOR = 4  # candidates kept per returned neighbor before refine

SIDECAR_PREFIX = "qvectors_"


def _sidecar_dir(index_dir: str) -> str:
    """The sidecar lives inside the index dir, keyed by the vectors
    snapshot it was derived from: a fold/flatten/compaction commits a
    new snapshot name, so the stale sidecar simply stops being found
    and the next ensure re-derives it (same can-never-serve-stale
    discipline as ``loop.content_version_dir``)."""
    snap = current_snapshot(os.path.join(index_dir, "vectors"))
    if snap is None:
        raise FileNotFoundError(f"no committed vectors in {index_dir}")
    return os.path.join(index_dir, f"{SIDECAR_PREFIX}{snap}")


def reclaim_stale_sidecars(index_dir: str) -> list[str]:
    """Physically remove sidecar dirs keyed to a vectors snapshot that is
    no longer current. The snapshot-keyed name already guarantees a stale
    sidecar can never be SERVED (``_sidecar_dir`` only ever resolves the
    current one), but nothing reclaimed the bytes: every flatten or
    compaction would strand a full corpus-sized ``qvectors_<oldsnap>``
    dir forever. Called from ``compact_ann_index`` on the maintenance
    cadence — the explicit end of reader grace, the same rule
    ``lake.vacuum`` applies to retained snapshots (a reader mid-scan on
    a stale sidecar when the cadence fires loses its files; that is the
    contract). Pure filesystem op; returns the dir names removed."""
    current = current_snapshot(os.path.join(index_dir, "vectors"))
    # every quantized-sidecar family shares the snapshot-keyed naming
    # scheme and this one reclamation sweep; each family's prefix is read
    # FROM its module (late import — PQ imports this module) so a prefix
    # rename can never silently strand that family's corpus-sized dirs
    from pgcp_spark.functions import ann_pq

    prefixes = (SIDECAR_PREFIX, ann_pq.SIDECAR_PREFIX)
    keep = {f"{p}{current}" for p in prefixes} if current is not None else set()
    removed = []
    for entry in sorted(os.listdir(index_dir)):
        if any(entry.startswith(p) for p in prefixes) and entry not in keep:
            shutil.rmtree(os.path.join(index_dir, entry), ignore_errors=True)
            removed.append(entry)
    return removed


def ensure_int8_sidecar(spark: SparkSession, index_dir: str) -> str:
    """Derive (once per vectors snapshot) the quantized sidecar from the
    COMMITTED float vectors. Pending fold/tombstone deltas are
    deliberately not quantized — the sidecar accelerates the BASE, and
    ``batch_vs_int8_index`` resolves deltas merge-on-read (module
    docstring), so a fold does not invalidate the sidecar; only a
    flatten/compaction (new base snapshot) retires it."""
    side = _sidecar_dir(index_dir)
    if current_snapshot(side) is not None:
        return side
    vecs = read_current(spark, os.path.join(index_dir, "vectors"))
    scale = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    ) / F.lit(127.0)
    qvec = F.when(
        F.col("scale") == 0,
        F.transform("embedding", lambda x: F.lit(0).cast("byte")),
    ).otherwise(
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") / F.col("scale")).cast("byte"),
        )
    )
    q = (
        vecs.select("vec_id", "list_id", scale.alias("scale"), "embedding")
        .select("vec_id", "list_id", "scale", qvec.alias("qvec"))
        .withColumn(
            "qnrm",
            F.sqrt(
                F.aggregate(
                    F.transform(
                        "qvec", lambda x: x.cast("double") * x.cast("double")
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
    )
    write_snapshot(
        q.select("vec_id", "list_id", "qvec", "qnrm"),
        side,
        cluster_by=_VECTORS_CLUSTER,
        cluster_files=spark.sparkContext.defaultParallelism,
    )
    return side


def resolve_quantized_base(
    spark: SparkSession,
    index_dir: str,
    stored_q: DataFrame,
    probed_lists: list,
) -> tuple[DataFrame, DataFrame | None]:
    """Merge-on-read resolution SHARED by the quantized sidecars (int8 and
    PQ — module docstring): the quantized side is BASE-only, so every
    delta-touched key leaves it (its live version, if any, re-enters
    exactly from the MOR frame) and every tombstone shape anti-joins its
    dead rows off (base rows always predate a tombstone, so the kill is
    unconditional here). Returns the filtered base frame plus the frame
    of LIVE delta rows in probed lists (or None) — batch-sized under the
    flatten cadence, so AQE broadcasts them (no forced hint: the bfc1c23
    rule — a maintenance-deferring caller must degrade to a shuffle
    join, not a driver OOM)."""
    vec_dir = os.path.join(index_dir, "vectors")
    delta_live = None
    names = delta_names(vec_dir)
    if names:
        data, tombs = split_deltas(spark, vec_dir, names, ["vec_id"])
        for _, shape, t in tombs:
            stored_q = stored_q.join(t.distinct(), on=shape, how="left_anti")
        if data:
            data_keys = reduce(
                DataFrame.unionByName, [p.select("vec_id") for _, p in data]
            ).distinct()
            stored_q = stored_q.join(data_keys, on="vec_id", how="left_anti")
            from pgcp_spark.functions.ann_index import stored_vectors

            delta_live = (
                stored_vectors(spark, index_dir)
                .join(data_keys, on="vec_id")
                .filter(F.col("list_id").isin(probed_lists))
                .select("vec_id", "list_id")
            )
    return stored_q, delta_live


def attach_delta_live(
    ranked: DataFrame, qframe: DataFrame, delta_live: DataFrame | None
) -> DataFrame:
    """Live delta rows in probed lists bypass stage-1 ranking straight
    into the refine set (shared by the quantized sidecars): batch-sized
    by the cadence, exact-scored in stage 2 — recall can only improve."""
    if delta_live is None:
        return ranked
    pairs = (
        qframe.select("q_id", "list_id")
        .join(delta_live, on="list_id")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
    )
    return ranked.unionByName(pairs).dropDuplicates(["q_id", "neighbor_id"])


def exact_refine(
    spark: SparkSession,
    index_dir: str,
    probes: DataFrame,
    cand: DataFrame,
    probed_lists: list,
    top_k: int,
) -> DataFrame:
    """Stage 2 SHARED by the quantized sidecars: point-lookup the
    candidates' FLOAT rows (bounded at |queries|·top_k·factor by
    construction — the collect is the pushed-IN literal, same pattern as
    the probed-list filter) and re-score with ``batch_vs_ann_index``'s
    exact expression shapes, so every RETURNED score is bit-identical to
    the float kernel's."""
    cand_ids = [r.neighbor_id for r in cand.select("neighbor_id").distinct().collect()]
    if not cand_ids:
        return spark.createDataFrame(
            [], "vec_id long, neighbor_id long, rank long, cos_sim double"
        )
    from pgcp_spark.functions.ann_index import stored_vectors

    flt = (  # MOR view: identical to the base read when no deltas pend
        stored_vectors(spark, index_dir)
        .filter(F.col("list_id").isin(probed_lists))
        .filter(F.col("vec_id").isin(cand_ids))
        .select(F.col("vec_id").alias("neighbor_id"), "embedding", "nrm")
    )
    from pgcp_spark.functions.similarity import with_norm

    q = with_norm(
        probes.select("vec_id", "embedding").dropDuplicates(["vec_id"])
    ).alias("q")
    c = cand.join(flt, "neighbor_id").alias("c")
    dot = F.aggregate(
        F.zip_with(
            F.col("q.embedding"),
            F.col("c.embedding"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("q.vec_id") == F.col("c.q_id"))
        .select(
            F.col("q.vec_id").alias("vec_id"),
            F.col("c.neighbor_id").alias("neighbor_id"),
            F.round(dot / (F.col("q.nrm") * F.col("c.nrm")), 6).alias("cos_sim"),
        )
    )
    w2 = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= top_k)
        .select(
            "vec_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            "cos_sim",
        )
        .orderBy("vec_id", "rank")
    )


def batch_vs_int8_index(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    nprobe: int = 4,
    top_k: int = 3,
    rescore_factor: int = RESCORE_FACTOR,
) -> DataFrame:
    """Two-stage quantized probe (module docstring): int8 candidate scan
    → exact float refine. Returns (vec_id, neighbor_id, rank, cos_sim)
    with the float kernel's exact score shapes and tie-breaks."""
    centroids = _load_centroids(spark, index_dir)
    if centroids.size == 0:
        return spark.createDataFrame(
            [], "vec_id long, neighbor_id long, rank long, cos_sim double"
        )
    side = ensure_int8_sidecar(spark, index_dir)
    probes = materialize(_assign(batch, centroids, nprobe))

    # stage 1 — candidate generation over the QUANTIZED lists only.
    # Query vectors quantize driver-side (a handful of rows); the corpus
    # side reads tinyint arrays (the 4× scan win) and the approximate
    # cosine is a JVM zip_with/aggregate over int-cast bytes — scales
    # cancel per vector, so no float payload crosses this stage at all.
    # ONE probe collect feeds both the list set and the query rows
    # (guide §1.2 — the separate distinct().collect() job is redundant).
    q_rows = probes.select("vec_id", "embedding", "list_id").collect()
    probed_lists = sorted({r.list_id for r in q_rows})
    qmap = []
    for r in q_rows:
        v = np.asarray(r.embedding, dtype=np.float64)
        s = float(np.abs(v).max()) / 127.0
        qv = (
            np.zeros_like(v, dtype=np.int64)
            if s == 0
            else np.round(v / s).astype(np.int64)
        )
        qn = float(np.sqrt((qv * qv).sum()))
        qmap.append((int(r.vec_id), int(r.list_id), [int(x) for x in qv], qn))
    qframe = spark.createDataFrame(
        qmap, "q_id long, list_id int, q_qvec array<int>, q_qnrm double"
    )
    stored_q = read_current(spark, side).filter(F.col("list_id").isin(probed_lists))
    stored_q, delta_live = resolve_quantized_base(
        spark, index_dir, stored_q, probed_lists
    )
    # int*int products summed as long: 64 dims × 127² fits easily; the
    # cast is load-bearing (tinyint×tinyint would overflow at 127×127)
    qdot = F.aggregate(
        F.zip_with(
            F.col("q_qvec"),
            F.col("qvec"),
            lambda x, y: x.cast("long") * y.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    approx = (
        F.broadcast(qframe)
        .join(
            stored_q,
            (qframe.list_id == stored_q.list_id)
            & (F.col("q_id") != F.col("vec_id")),
        )
        .select(
            "q_id",
            "vec_id",
            (qdot.cast("double") / (F.col("q_qnrm") * F.col("qnrm") + F.lit(1e-12))).alias(
                "acos"
            ),
        )
        .dropDuplicates(["q_id", "vec_id"])  # a neighbor in 2 probed lists
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("acos"), "vec_id")
    ranked = (
        approx.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= top_k * rescore_factor)
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
    )
    ranked = attach_delta_live(ranked, qframe, delta_live)
    cand = materialize(ranked)
    return exact_refine(spark, index_dir, probes, cand, probed_lists, top_k)


@register(
    "sim_batch_vs_int8_ann_index",
    # NO oracle by design (IVF routing × int8 candidate ordering are both
    # approximate); correctness = the two pinned overlap floors plus the
    # returned-scores-are-exact-float-cosines pin in tests/test_ann_int8.py
    doc="two-stage quantized ANN: int8 sidecar candidate scan (4x smaller files, JVM-side integer scoring) + exact float re-scoring of the survivors — rows-only with floors vs the float IVF probe and vs brute force",
)
def sim_batch_vs_int8_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN family's demo split (batch = vec_id % 10, corpus = the
    rest) served through the scalar-quantized two-stage probe: candidate
    generation reads ONLY the int8 sidecar of the probed lists (~4×
    fewer bytes than the float scan at 100 TB), then the bounded
    survivor set re-scores from the float vectors — so the returned
    cos_sim values are bit-identical to the float kernel's and the only
    approximation is WHICH neighbors made the cut (floored in tests)."""
    index_dir = ensure_ann_index(spark, sf_dir)
    return batch_vs_int8_index(spark, _batch(spark, sf_dir), index_dir)
