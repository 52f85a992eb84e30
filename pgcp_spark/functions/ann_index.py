"""Incremental ANN against a lake-persisted IVF index.

The similarity twin of ``functions/dedup_index.py``: the one-shot IVF
query (``sim_cosine_ivf_topk``) re-trains the k-means coarse quantizer
and re-assigns the whole corpus on every run — a production pipeline
cannot, because embeddings arrive daily and the quantizer fit is the
expensive, corpus-sized step. This module persists the trained index as
lake tables (``sources/lake.py`` atomic snapshots) and gives new batches
two operations against it:

    index layout (one dir per CONTENT VERSION of the embeddings table)
      centroids/  (list_id, centroid array<double>)   trained quantizer
      vectors/    (vec_id, embedding, nrm, list_id)   assigned corpus,
                  CLUSTER BY (list_id, vec_id) → file min/max stats
                  prune unprobed lists at scan time; the secondary key
                  + a parallelism floor keep the probe join parallel
                  (see _VECTORS_CLUSTER); norms hoisted at write time
      stats/      (metric, value)                     build-time balance
                  yardstick for maybe_refit_ann_index's cadence

    query:  ``batch_vs_ann_index`` probes the STORED centroids with the
            batch (one numpy matmul per Arrow batch against a broadcast
            k×dim matrix), prunes the stored vectors to the probed lists
            (ids collected driver-side — at most k values — so the
            IN-filter pushes into the parquet scan and min/max skips
            whole files), broadcasts the probe rows into the list_id
            equi-join, and scores exact cosine JVM-side with the STORED
            hoisted norms. The indexed corpus outside the probed lists
            is never read.
    fold:   ``update_ann_index`` assigns the batch to its nearest STORED
            centroid (nprobe=1, no re-fit) and MERGEs it into vectors —
            tomorrow's batch finds today's. Centroids are left as-is:
            like the dedup index's hot-shingle list, the quantizer is
            recomputed on a rebuild cadence, not per batch. What drift
            actually costs was MEASURED (tools/ann_drift.py, SCALE.md
            round-6 "IVF drift" section), and it is not what the naive
            story says: scores are always exact over the probed lists,
            iid folding is free on every axis, and a concentrating
            distribution shift costs JOIN WORK, not recall — the shifted
            mass crowds one list (max_list_frac 0.10 → 0.40 over five
            folds at sf0.1) and per-probe join cost decays toward brute
            force (0.29 → 0.53 of the corpus) while new-distribution
            recall sits at 1.0. The re-fit trigger is therefore the
            stored list-size histogram: ``maybe_refit_ann_index``
            re-fits from the STORED vectors when max_list_frac exceeds
            REFIT_IMBALANCE_RATIO × its build-time value (persisted in
            the index's ``stats/`` table) and resets the yardstick —
            fold → check → (rarely) re-fit, all against lake state, the
            original corpus never re-read.
            ``assignment_quality`` is also recorded but measured
            UNINFORMATIVE at this dimensionality (its docstring has the
            numbers) — imbalance is the signal.

Approximate-contract note: like ``sim_cosine_ivf_topk``, results probe
nprobe of k lists, so the registered query is rows-only with recall
floors vs the exact new-vs-stored brute force asserted in
``tests/test_ann_index.py`` (k-means has no DuckDB twin).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgcp_spark.functions.similarity import (
    IVF_LISTS,
    IVF_NPROBE,
    TOP_K,
    valid_embedding,
    with_norm,
)
from pgcp_spark.indexes import loop
from pgcp_spark.plans.materialize import materialize
from pgcp_spark.registry import register
from pgcp_spark.sources import load_table
from pgcp_spark.sources.lake import (
    flatten_deltas,
    read_current,
    read_current_with_deltas,
    write_snapshot,
)

ANN_BATCH_MOD = 10  # vec_id % 10 == 0 → "new batch"; else → indexed corpus
ANN_INDEX_ROOT = os.environ.get("SPARK_GRAFT_ANN_INDEX_ROOT", "/tmp/pgcp_ann_index")
_SUBTABLES = ("centroids", "vectors", "stats")

# Re-fit when the largest list's share of stored vectors exceeds this
# multiple of its build-time value — the measured trigger from
# tools/ann_drift.py (SCALE.md round-6 "IVF drift"): a concentrating
# distribution shift crowds one list (0.10 → 0.40 over five folds) and
# per-probe join work decays toward brute force, while recall and score
# correctness stay intact — so imbalance, not quality, is the signal.
REFIT_IMBALANCE_RATIO = 2.0

# Vectors layout: list_id first (the probe filter's pruning key — file
# min/max ranges stay narrow on it), vec_id second so range boundaries
# can fall INSIDE a list. The secondary key is what keeps the layout
# PARALLEL: range partitioning on list_id alone caps useful files at the
# list count (16), and a hot list — or a small index — collapses to few
# files whose scan partitions then bound the probe JOIN's task count
# (the compute-heavy step). Splitting within lists costs pruning nothing
# (each file's list range is still narrow) and is also the documented
# recovery lever for the irreducible directional crowd in SCALE.md's
# round-7 drift notes.
_VECTORS_CLUSTER = ["list_id", "vec_id"]


def ann_index_dir_for(sf_dir: str) -> str:
    """Content-version-keyed index dir (shared harness discipline: a
    regenerated lake fingerprints to a different directory, so a stale
    index can never serve a changed corpus). The format-version salt is
    bumped when the index LAYOUT or TRAINING GEOMETRY changes (v2 =
    cosine-trained quantizer), so an index persisted by older code can
    never serve a newer probe kernel."""
    return loop.content_version_dir(
        ANN_INDEX_ROOT, sf_dir, "embeddings.parquet", salt="format:v2:cosine"
    )


def _valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(valid_embedding())
    )


def _indexed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _valid(spark, sf_dir).filter(F.col("vec_id") % ANN_BATCH_MOD != 0)


def _batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _valid(spark, sf_dir).filter(F.col("vec_id") % ANN_BATCH_MOD == 0)


def _load_centroids(spark: SparkSession, index_dir: str) -> np.ndarray:
    rows = (
        read_current(spark, os.path.join(index_dir, "centroids"))
        .orderBy("list_id")
        .collect()
    )
    return np.array([r.centroid for r in rows], dtype=np.float64)


def _assign(batch: DataFrame, centroids: np.ndarray, nprobe: int) -> DataFrame:
    """(vec_id, embedding, list_id) rows: each batch vector × its nprobe
    nearest stored centroids (by cosine, matching the trained quantizer's
    geometry on unit-scale data). One numpy matmul per Arrow batch
    against the broadcast k×dim matrix — the same probe kernel as the
    one-shot IVF query."""
    spark = batch.sparkSession
    b_cent = spark.sparkContext.broadcast(centroids)
    eff = int(min(nprobe, centroids.shape[0]))

    def probe(batches):
        cent = b_cent.value
        cnorm = np.sqrt((cent * cent).sum(axis=1))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            qnorm = np.sqrt((q * q).sum(axis=1))
            sims = (q @ cent.T) / (qnorm[:, None] * cnorm[None, :] + 1e-12)
            nearest = np.argsort(-sims, axis=1)[:, :eff]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), eff),
                    "embedding": pdf["embedding"].repeat(eff).to_numpy(),
                    "list_id": nearest.ravel().astype(np.int32),
                }
            )

    return batch.mapInPandas(
        probe, schema="vec_id long, embedding array<float>, list_id int"
    )


def build_ann_index(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Fit the coarse quantizer on the indexed slice and persist the
    index (see ``build_ann_index_from``)."""
    build_ann_index_from(spark, _indexed_corpus(spark, sf_dir), index_dir)


def build_ann_index_from(
    spark: SparkSession, corpus: DataFrame, index_dir: str
) -> None:
    """Fit the coarse quantizer on ``corpus`` (vec_id, embedding) and
    persist the index: centroids + CLUSTER BY list_id assigned vectors
    with hoisted norms. Same single-writer contract as the dedup index;
    the corpus-frame seam (mirroring the dedup index's
    ``build_index_from``) is what lets tools/ann_drift.py rebuild on an
    arbitrary base+folded split to measure the re-fit payoff. A REFIT
    runs it while probes are being served; a reader that resolved the
    pre-refit pointers keeps their files for the lake's reader grace."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    counts = corpus.agg(
        F.count("*").alias("n"),
        F.countDistinct(F.xxhash64("embedding")).alias("nd"),
    ).collect()[0]
    if counts["n"] == 0:
        empty_c = spark.createDataFrame([], "list_id int, centroid array<double>")
        empty_v = spark.createDataFrame(
            [], "vec_id long, embedding array<float>, nrm double, list_id int"
        )
        write_snapshot(empty_c, os.path.join(index_dir, "centroids"))
        write_snapshot(empty_v, os.path.join(index_dir, "vectors"))
        write_snapshot(
            spark.createDataFrame([], "metric string, value double"),
            os.path.join(index_dir, "stats"),
        )
        return
    if counts["nd"] < 2:
        assigned = corpus.withColumn("list_id", F.lit(0))
        centroids = np.array(
            [corpus.select("embedding").head()[0]], dtype=np.float64
        )
    else:
        vecs = corpus.withColumn(
            "features", array_to_vector(F.col("embedding").cast("array<double>"))
        )
        # One geometry end-to-end: _assign (probe + fold) and
        # batch_vs_ann_index pick lists by COSINE, so the quantizer is
        # trained and the stored corpus assigned by cosine as well —
        # otherwise a vector could land in a different list at build time
        # than the probe kernel would route it to, costing recall at low
        # nprobe and confounding tools/ann_drift.py's drift measurements.
        model = KMeans(
            k=int(min(IVF_LISTS, counts["nd"])),
            seed=42,
            maxIter=10,
            distanceMeasure="cosine",
            featuresCol="features",
            predictionCol="list_id",
        ).fit(vecs)
        assigned = model.transform(vecs).select("vec_id", "embedding", "list_id")
        centroids = np.stack(model.clusterCenters())
    cent_rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)]
    write_snapshot(
        spark.createDataFrame(cent_rows, "list_id int, centroid array<double>"),
        os.path.join(index_dir, "centroids"),
    )
    write_snapshot(
        with_norm(assigned).select("vec_id", "embedding", "nrm", "list_id"),
        os.path.join(index_dir, "vectors"),
        cluster_by=_VECTORS_CLUSTER,
        # parallelism floor from day one: without it AQE byte-sizes the
        # range exchange to a handful of files and every probe join runs
        # at that task count until the first compaction (measured at sf1:
        # 4-file build 28.8 s vs 32-file layout 6.2 s per probe batch)
        cluster_files=max(
            spark.sparkContext.defaultParallelism,
            -(-counts["n"] // 500_000),  # …while capping rows per file
        ),
    )
    # build-time balance, from the COMMITTED vectors (read back, one tiny
    # agg — same zero-recompute discipline as the dedup index's sizes):
    # the yardstick maybe_refit_ann_index compares the drifting index to.
    write_snapshot(
        spark.createDataFrame(
            [("build_max_list_frac", stored_max_list_frac(spark, index_dir))],
            "metric string, value double",
        ),
        os.path.join(index_dir, "stats"),
    )


def stored_vectors(spark: SparkSession, index_dir: str) -> DataFrame:
    """The effective vectors table: base snapshot ∪ pending fold deltas,
    newest delta winning per vec_id (merge-on-read — ``sources/lake.py``
    delta layer; round 9 moved this family's fold from a copy-on-write
    rewrite to an O(batch) delta append, same as the BM25 postings).
    With no pending folds this is exactly the base read."""
    return read_current_with_deltas(
        spark, os.path.join(index_dir, "vectors"), key=["vec_id"]
    )


def _flatten_vectors(spark: SparkSession, index_dir: str) -> None:
    """Merge pending fold deltas into the vectors base with the clustered
    layout re-established — the maintenance-cadence step every mutating
    path (refit / remove / compact) runs first, because each rewrites the
    base from a full read and rows hiding in un-merged deltas would
    survive (or go stale) otherwise."""
    flatten_deltas(
        spark,
        os.path.join(index_dir, "vectors"),
        key=["vec_id"],
        cluster_by=_VECTORS_CLUSTER,
        cluster_files=spark.sparkContext.defaultParallelism,
    )


def stored_max_list_frac(spark: SparkSession, index_dir: str) -> float:
    """Largest list's share of the stored vectors — THE drift signal
    (module docstring: concentration costs join work, not recall). One
    count-by-list aggregate over the effective vectors (base ∪ pending
    fold deltas); callers fold it into the maintenance cadence. Returns
    nan for an empty index."""
    row = (
        stored_vectors(spark, index_dir)
        .groupBy("list_id")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("mx"), F.sum("n").alias("tot"))
        .collect()[0]
    )
    return float("nan") if row.tot is None else float(row.mx) / float(row.tot)


def maybe_refit_ann_index(
    spark: SparkSession,
    index_dir: str,
    ratio: float = REFIT_IMBALANCE_RATIO,
) -> dict:
    """The rebuild-cadence decision, as code: re-fit the coarse quantizer
    from the STORED vectors iff the largest list's share has grown past
    ``ratio`` × its build-time value (the measured trigger —
    tools/ann_drift.py / SCALE.md: imbalance is how no-re-fit folding
    actually hurts; scores stay exact and iid folds stay free, so
    re-fitting on a schedule alone would waste corpus-sized k-means fits).

    The re-fit trains on base+folds (``build_ann_index_from`` over the
    stored (vec_id, embedding) rows — embeddings never left the index, so
    no corpus re-read) and resets the build-time yardstick, restarting
    the cadence. Returns a report dict:
    ``{"refit": bool, "build_frac": f, "current_frac": f[, "after_frac": f]}``.
    """
    build_rows = {
        r.metric: r.value
        for r in read_current(spark, os.path.join(index_dir, "stats")).collect()
    }
    build_frac = build_rows.get("build_max_list_frac")
    current = stored_max_list_frac(spark, index_dir)
    report = {"refit": False, "build_frac": build_frac, "current_frac": current}
    if build_frac is None or current != current or current <= ratio * build_frac:
        return report  # empty index, or balance within cadence bounds
    # fold pending deltas into the base first: the refit rewrites vectors
    # from a full read and re-assigns every list_id — stale delta rows
    # left active would shadow the re-assigned base rows afterwards
    _flatten_vectors(spark, index_dir)
    stored = read_current(spark, os.path.join(index_dir, "vectors")).select(
        "vec_id", "embedding"
    )
    build_ann_index_from(spark, stored, index_dir)
    report["refit"] = True
    report["after_frac"] = stored_max_list_frac(spark, index_dir)
    return report


def ensure_ann_index(spark: SparkSession, sf_dir: str) -> str:
    """Build iff this corpus version has no index yet; return its dir."""
    index_dir = ann_index_dir_for(sf_dir)
    return loop.ensure_built(
        index_dir, _SUBTABLES, lambda: build_ann_index(spark, sf_dir, index_dir)
    )


def batch_vs_ann_index(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    nprobe: int = IVF_NPROBE,
    top_k: int = TOP_K,
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """Top-k stored neighbors per batch vector (module docstring): probe
    stored centroids → prune stored vectors to the probed lists (pushed
    IN-filter + CLUSTER BY min/max file skipping) → broadcast probe rows
    into the list_id equi-join → exact cosine with STORED norms.

    ``exclude_ids`` (single column ``vec_id``) anti-joins those ids off
    the STORED candidate side — the streaming ingest loop passes the
    current batch's own ids so an at-least-once REPLAY of an
    already-folded batch scores the same candidate set as its first
    delivery (same role as ``batch_vs_index_docs``'s anti-join in the
    dedup twin)."""
    centroids = _load_centroids(spark, index_dir)
    if centroids.size == 0:  # empty indexed corpus: no neighbors exist
        return spark.createDataFrame(
            [], "vec_id long, neighbor_id long, rank long, cos_sim double"
        )
    probes = materialize(_assign(batch, centroids, nprobe))
    probed_lists = [r.list_id for r in probes.select("list_id").distinct().collect()]
    stored = stored_vectors(spark, index_dir).filter(
        F.col("list_id").isin(probed_lists)
    )
    if exclude_ids is not None:
        stored = stored.join(F.broadcast(exclude_ids.select("vec_id")), "vec_id", "left_anti")
    q = with_norm(probes).alias("q")
    c = stored.alias("c")
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
        .join(
            c,
            (F.col("q.list_id") == F.col("c.list_id"))
            & (F.col("q.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("vec_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            F.round(dot / (F.col("q.nrm") * F.col("c.nrm")), 6).alias("cos_sim"),
        )
        .dropDuplicates(["vec_id", "neighbor_id"])  # a neighbor in 2 probed lists
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            "vec_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cos_sim"
        )
        .orderBy("vec_id", "rank")
    )


def assignment_quality(batch: DataFrame, centroids: np.ndarray) -> float:
    """Mean cosine of each batch vector to its nearest STORED centroid —
    free out of the probe matmul, recorded per fold as a drift signal,
    and measured UNINFORMATIVE on this embedding distribution: at 64
    dimensions with 16 lists the build-time heldout baseline is already
    near the random-direction level (0.218 at sf0.1), and neither a
    concentrating offset shift (which doubled per-probe join work) nor
    data-scale hash noise moved the ratio off ~1.0 (tools/ann_drift.py,
    SCALE.md). Keep computing it — cluster-structured or lower-dim
    embeddings would move it — but the measured re-fit trigger is list
    imbalance from the fold's assignment histogram, not this number.
    Returns nan for an empty batch."""
    spark = batch.sparkSession
    b_cent = spark.sparkContext.broadcast(centroids)

    def best(batches):
        cent = b_cent.value
        cnorm = np.sqrt((cent * cent).sum(axis=1))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            qnorm = np.sqrt((q * q).sum(axis=1))
            sims = (q @ cent.T) / (qnorm[:, None] * cnorm[None, :] + 1e-12)
            yield pd.DataFrame({"best": sims.max(axis=1)})

    row = batch.mapInPandas(best, schema="best double").agg(
        F.avg("best").alias("q")
    ).collect()[0]
    return float("nan") if row.q is None else float(row.q)


def update_ann_index(spark: SparkSession, batch: DataFrame, index_dir: str) -> None:
    """Fold a batch into the stored index: assign to the nearest STORED
    centroid (nprobe=1, no re-fit) and land it as an APPENDED DELTA
    PARTITION keyed vec_id — a re-ingested vector's newest delta row
    shadows its old one through the merge-on-read reader (round 9;
    previously a copy-on-write MERGE whose cost grew with INDEX size).
    The delta is clustered on (list_id, vec_id) like the base, so probe
    pruning's footer skipping works inside it too; deltas merge into the
    base at the compaction/refit cadence. Centroids untouched
    (rebuild-cadence recompute; drift costs recall, never score
    correctness)."""
    centroids = _load_centroids(spark, index_dir)
    if centroids.size == 0:
        return
    from pgcp_spark.sources.lake import append_delta

    assigned = _assign(batch, centroids, nprobe=1)
    append_delta(
        with_norm(assigned).select("vec_id", "embedding", "nrm", "list_id"),
        os.path.join(index_dir, "vectors"),
        cluster_by=_VECTORS_CLUSTER,
    )


def remove_from_ann_index(
    spark: SparkSession, ids: DataFrame, index_dir: str
) -> None:
    """Retention/GDPR delete propagation: drop ``ids`` (single column
    ``vec_id``) from the stored vectors. Without this, a deleted
    embedding keeps surfacing as everyone's neighbor.

    Since round 10 the delete lands as an O(keys) TOMBSTONE DELTA
    (``lake.delete_delta`` — previously flatten + a keyed copy-on-write
    rewrite whose cost grew with INDEX size, the asymmetry round 9
    removed from the fold side): the vectors base keeps its clustered
    layout untouched (nothing to re-establish — no rewrite happens), the
    merge-on-read reader drops matching rows, and vectors hiding in
    un-merged fold deltas die too (the one commit log versions deletes
    against folds). Physical reclaim happens at the next
    ``_flatten_vectors`` on the refit/compaction cadence — the "truly
    gone" GDPR step, same deferred-merge cost model as the fold.

    Centroids and the stats yardstick are untouched: the routing
    geometry is frozen between rebuild-cadence passes (the invariant the
    streaming loop's batch-boundary proof rests on), and removal can
    only SHRINK lists — ``maybe_refit_ann_index`` picks up any resulting
    imbalance on its normal cadence. Removing absent ids is a no-op, so
    replay converges."""
    from pgcp_spark.sources.lake import delete_delta

    ids = materialize(ids.select("vec_id").distinct())
    delete_delta(ids, os.path.join(index_dir, "vectors"), key=["vec_id"])


def compact_ann_index(
    spark: SparkSession, index_dir: str, target_file_bytes: int = 128 * 1024 * 1024
) -> None:
    """The index's OPTIMIZE maintenance op: every fold's copy-on-write
    MERGE leaves the vectors table with however many files its exchange
    produced; on a rebuild cadence production compacts them back toward
    ``target_file_bytes`` while REBUILDING the (list_id, vec_id)
    clustering (a plain file-merge would smear list ranges across files
    and erode the probe-time pruning). The floor keeps at least the
    session's default parallelism in files: the probe join's task count
    is bounded by the vectors scan's partitions, and compacting a
    sub-target-size index to one file was measured to serialize the
    sf1 probe join 23.8 → 87 s (SCALE.md round 7). Centroids/stats are
    O(k) rows — compacted to single files for the footer-read win alone."""
    # pending fold deltas merge into the base first (the deferred half of
    # the O(batch) fold cost, paid here on the cadence)
    _flatten_vectors(spark, index_dir)
    # the vectors table alone re-ranges on its cluster key with the
    # parallelism floor
    loop.compact_tables(
        spark,
        index_dir,
        _SUBTABLES,
        target_file_bytes=target_file_bytes,
        per_table={
            "vectors": {
                "cluster_by": _VECTORS_CLUSTER,
                "min_files": spark.sparkContext.defaultParallelism,
            }
        },
    )
    # the flatten/compaction just committed a new vectors snapshot, so any
    # int8 sidecar on disk is now snapshot-stale: unreachable by name (the
    # correctness half) but still corpus-sized bytes — reclaim it here, the
    # cadence being the explicit end of reader grace (lake.vacuum's rule)
    from pgcp_spark.functions.ann_int8 import reclaim_stale_sidecars

    reclaim_stale_sidecars(index_dir)


@register(
    "sim_incremental_batch_vs_ann_index",
    oracle=None,  # k-means quantizer has no DuckDB twin; recall floors vs
    # the exact new-vs-stored brute force asserted in tests/test_ann_index.py
    doc="incremental ANN: new-batch top-k against the lake-persisted IVF index (rows-only check)",
)
def sim_incremental_batch_vs_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k stored neighbors for the mod-10 batch slice of embeddings,
    served from the lake-persisted IVF index (built once per corpus
    version, reused untouched across runs — pinned by
    tests/test_ann_index.py). The daily-ingest shape of a production
    vector pipeline: the quantizer fit is amortized across batches and
    the unprobed corpus is never read."""
    index_dir = ensure_ann_index(spark, sf_dir)
    return batch_vs_ann_index(spark, _batch(spark, sf_dir), index_dir)
