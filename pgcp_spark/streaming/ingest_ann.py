"""Streaming vector ingest: the ANN twin of the crawl-ingest dedup loop.

Composes the lake-persisted IVF index (``functions/ann_index.py``) with
Structured Streaming into the daily shape of a production embedding
pipeline: vectors arrive as a stream of ingest batches; each micro-batch
gets its top-k neighbors among everything seen BEFORE it (the persisted
index plus earlier stream vectors), the per-vector neighbor lists are
committed to a lake table, and the batch is folded into the index so the
NEXT batch searches it too.

    readStream(files) ──► foreachBatch:
        cand   = batch probes STORED index          (exact cosine over
                                                     nprobe probed lists)
               ∪ within-batch earlier-vector pairs  (same routing rule)
        rank   = global top-k per vector over both candidate sources
        commit = neighbors → lake upsert; update_ann_index(batch)

Design decisions, mirroring ``streaming/ingest_dedup.py`` point for point:

- **Results are independent of micro-batch boundaries.** A vector's
  stream position is ``(seq, vec_id)`` derived from the DATA (seq = which
  ingest day the vector belongs to), never from Spark's batch_id. The
  key enabler is that routing geometry is FROZEN for the stream's
  duration: ``update_ann_index`` folds batches WITHOUT touching
  centroids, so a candidate's list assignment (nearest stored centroid,
  nprobe=1 — exactly how the fold would place it) and a query's probe
  set (nprobe nearest centroids) are pure functions of the data. An
  earlier vector is therefore reachable by a later query through the
  SAME (probe-list ∋ assigned-list) rule whether it arrived in a prior
  micro-batch (vs-index path, post-fold) or the same one (within-batch
  path) — identical candidates, bit-identical exact-cosine scores
  (hoisted-norm expression tree shared with ``with_norm``), identical
  deterministic top-k order. This is also why the re-fit check
  (``maybe_refit_ann_index``) runs on the REBUILD CADENCE, outside the
  per-batch loop: re-fitting mid-stream would change the routing of
  later batches depending on trigger granularity — the one thing that
  would break the invariance.
- **Replay-idempotent under at-least-once foreachBatch.** A crash after
  the index fold but before the checkpoint commit re-delivers the batch;
  ``batch_vs_ann_index``'s ``exclude_ids`` anti-joins the batch's own
  (now already-folded) ids off the stored candidate side, the
  within-batch path reads only frozen centroids, and both commits are
  keyed upserts — so re-execution converges to the first run's state.
- **Each registered run works on a COPY of the shared per-corpus index**
  (file-level copy of committed snapshots): folding mutates, and a
  registered query must be idempotent across driver re-runs.

Scale shape: per batch, one probe matmul (batch × k centroids, Arrow
batches against a broadcast k×dim matrix); the vs-index join reads ONLY
the probed lists' files (pushed IN-filter + CLUSTER BY min/max
skipping); the within-batch join is (day × nprobe) probe rows against
(day × 1) assigned rows on list_id — bounded by one ingest day, though a
day whose vectors crowd one list degrades it toward day² for that list:
the same concentration drift ``stored_max_list_frac`` measures, with the
imbalance-triggered re-fit (between streams) as the standing recovery.
No exchange carries embeddings beyond the day's own rows. The indexed
corpus outside the probed lists is never read.

Approximate-contract note: like every IVF query, neighbors come from
nprobe probed lists, so the registered query is rows-only (the k-means
quantizer has no DuckDB twin); the value evidence is the independent
numpy replay oracle + invariance/replay pins in tests/test_ingest_ann.py
and the recall floors the batch path already carries.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pgcp_spark.functions.ann_index import (
    ANN_BATCH_MOD,
    _SUBTABLES,
    _assign,
    _load_centroids,
    batch_vs_ann_index,
    ensure_ann_index,
    update_ann_index,
)
from pgcp_spark.functions.similarity import (
    IVF_NPROBE,
    TOP_K,
    valid_embedding,
    with_norm,
)
from pgcp_spark.indexes import loop
from pgcp_spark.plans.materialize import materialize
from pgcp_spark.registry import register
from pgcp_spark.sources import load_table_parallel
from pgcp_spark.sources.lake import current_snapshot, read_current, upsert, write_snapshot

N_STREAM_BATCHES = 3  # ingest "days": seq = (vec_id div ANN_BATCH_MOD) % 3

_NEIGHBOR_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("batch_seq", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("rank", T.LongType()),
        T.StructField("cos_sim", T.DoubleType()),
    ]
)


def _seq_col():
    return F.expr(f"(vec_id div {ANN_BATCH_MOD}) % {N_STREAM_BATCHES}")


def _stream_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streamed vectors: the mod-ANN_BATCH_MOD batch slice (everything
    else is the pre-built indexed corpus, same split as the one-shot
    incremental query)."""
    return (
        load_table_parallel(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(valid_embedding())
        .filter(F.col("vec_id") % ANN_BATCH_MOD == 0)
    )


def _copy_index(seed_dir: str) -> str:
    """Working copy via the shared harness (folding must not mutate the
    shared per-corpus index)."""
    return loop.copy_index(seed_dir, _SUBTABLES, "pgcp_ingest_ann_index_")


def _stage_stream_files(vectors: DataFrame, n: int = N_STREAM_BATCHES) -> str:
    """Stage the stream slice as one parquet file per ingest day via the
    shared harness (fixed increasing mtimes → whole-day delivery,
    oldest-first; results do NOT depend on this order — module docstring
    — but deterministic staging keeps runs bit-identical in logs too)."""
    return loop.stage_group_files(
        vectors, _seq_col(), range(n), "pgcp_ingest_ann_stream_"
    )


def within_batch_neighbors(batch: DataFrame, centroids) -> DataFrame:
    """(vec_id, neighbor_id, cos_sim) pairs INSIDE one micro-batch where
    the neighbor is strictly earlier by (seq, vec_id) AND reachable under
    the index's routing rule: the query probes its nprobe nearest stored
    centroids, the candidate sits in its single nearest list (exactly
    where ``update_ann_index`` will fold it), and they meet iff the lists
    coincide — so a candidate scores identically here and via the
    vs-index path after its fold, which is what makes results invariant
    to micro-batch boundaries. Scoring is the same hoisted-norm exact
    cosine as ``batch_vs_ann_index``, rounded to the same 6 places."""
    spark = batch.sparkSession
    if centroids.size == 0:  # no routing geometry → no reachable pairs
        return spark.createDataFrame(
            [], "vec_id long, neighbor_id long, cos_sim double"
        )
    probes = with_norm(_assign(batch, centroids, IVF_NPROBE)).withColumn(
        "seq", _seq_col()
    )
    assigned = with_norm(_assign(batch, centroids, nprobe=1)).withColumn(
        "seq", _seq_col()
    )
    q, c = probes.alias("q"), assigned.alias("c")
    dot = F.aggregate(
        F.zip_with(
            F.col("q.embedding"),
            F.col("c.embedding"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    earlier = (F.col("c.seq") < F.col("q.seq")) | (
        (F.col("c.seq") == F.col("q.seq")) & (F.col("c.vec_id") < F.col("q.vec_id"))
    )
    return (
        q.join(c, (F.col("q.list_id") == F.col("c.list_id")) & earlier)
        .select(
            F.col("q.vec_id").alias("vec_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            F.round(dot / (F.col("q.nrm") * F.col("c.nrm")), 6).alias("cos_sim"),
        )
        .dropDuplicates(["vec_id", "neighbor_id"])  # q probes several lists
    )


def process_ingest_batch(
    spark: SparkSession, batch: DataFrame, index_dir: str, neighbors_dir: str
) -> None:
    """One micro-batch of the ingest loop: top-k neighbors for every
    vector in ``batch`` against everything strictly earlier, committed to
    the lake table at ``neighbors_dir``; then fold the batch into the
    index. Global top-k over the union of the two candidate sources is
    exact because each source is truncated (if at all) under the same
    deterministic total order (cos_sim desc, neighbor_id asc) the global
    rank uses — a globally-top-k candidate is always inside its own
    source's top-k."""
    batch = materialize(batch)
    centroids = _load_centroids(spark, index_dir)
    vs_index = batch_vs_ann_index(
        spark, batch, index_dir, exclude_ids=batch
    ).select("vec_id", "neighbor_id", "cos_sim")
    within = within_batch_neighbors(batch, centroids)
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    ranked = (
        vs_index.unionByName(within)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )
    neighbors = (
        ranked.join(batch.select("vec_id", _seq_col().alias("batch_seq")), "vec_id")
        .select(
            "vec_id",
            "batch_seq",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            "cos_sim",
        )
    )
    if current_snapshot(neighbors_dir) is None:
        write_snapshot(neighbors, neighbors_dir)
    else:
        upsert(spark, neighbors_dir, neighbors, key=["vec_id", "rank"])
    update_ann_index(spark, batch, index_dir)
    # self-healing cadence (round 10): every FLATTEN_MAX_DELTAS-th batch
    # merges the fold deltas so the probe join's read tax never compounds
    loop.maybe_flatten(
        spark,
        f"{index_dir}/vectors",
        key=["vec_id"],
        cluster_by=["list_id", "vec_id"],
        cluster_files=spark.sparkContext.defaultParallelism,
    )


def run_ingest_ann(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """Run the full streaming vector-ingest loop; return the committed
    neighbor table (vec_id, batch_seq, neighbor_id, rank, cos_sim).

    ``max_files_per_trigger=None`` lets availableNow swallow every ingest
    day in ONE micro-batch — the neighbors must come out identical (the
    batch-boundary-invariance property; pinned in tests/test_ingest_ann.py).

    Every run-scoped dir is reclaimed exactly as in ``run_ingest_dedup``:
    staging (incl. checkpoint) and the index working copy when the stream
    terminates, the neighbors table after the result is materialized off
    it (deferred to interpreter exit under the lazy materialization
    modes, whose frames still read the files)."""
    seed = ensure_ann_index(spark, sf_dir)
    index_dir = _copy_index(seed)
    neighbors_dir = tempfile.mkdtemp(prefix="pgcp_ingest_ann_neighbors_")
    staging = None
    try:
        staging = _stage_stream_files(_stream_slice(spark, sf_dir))

        def process(batch: DataFrame, batch_id: int) -> None:
            process_ingest_batch(spark, batch, index_dir, neighbors_dir)

        loop.run_availablenow_stream(
            spark,
            staging,
            _stream_slice(spark, sf_dir).schema,
            process,
            max_files_per_trigger,
        )

        if current_snapshot(neighbors_dir) is None:  # zero-row stream slice
            shutil.rmtree(neighbors_dir, ignore_errors=True)
            return spark.createDataFrame([], _NEIGHBOR_SCHEMA)
        result = materialize(
            # explicit column order: the keyed MERGE rewrites the table
            # key-first, and the driver contract wants one stable schema
            # whether the table saw 0, 1, or N upserts
            read_current(spark, neighbors_dir)
            .select("vec_id", "batch_seq", "neighbor_id", "rank", "cos_sim")
            .orderBy("vec_id", "rank")
        )
    except BaseException:
        shutil.rmtree(neighbors_dir, ignore_errors=True)
        raise
    finally:
        if staging is not None:
            shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(index_dir, ignore_errors=True)
    loop.reclaim_by_mode(neighbors_dir)
    return result


@register(
    "streaming_ingest_ann_neighbors",
    oracle=None,  # k-means quantizer has no DuckDB twin; the independent
    # numpy replay oracle + invariance/replay pins live in tests/test_ingest_ann.py
    doc="streaming vector ingest: per-batch top-k vs the persisted IVF index + earlier stream vectors, folded forward (rows-only check)",
)
def streaming_ingest_ann_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vector-ingest ANN (module docstring): the mod-10 slice
    of embeddings streams in as three ingest-day files; each micro-batch
    takes top-k cosine neighbors over the persisted IVF index plus its
    own earlier vectors under one frozen routing rule, commits them to a
    lake table, and is folded into the index for the next batch."""
    return run_ingest_ann(spark, sf_dir)
