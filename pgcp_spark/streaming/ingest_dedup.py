"""Streaming ingest dedup: the full production crawl-ingest loop.

Composes the round-6 lake-persisted dedup index
(``functions/dedup_index.py``) with Structured Streaming into the shape a
100 TB training-data pipeline actually runs: documents arrive as a
stream of crawl batches; each micro-batch is deduped against everything
seen before it (the persisted index), per-doc keep/drop decisions are
committed to a lake table, and the batch is folded into the index so the
NEXT batch dedups against it too.

    readStream(files) ──► foreachBatch:
        pairs   = batch shingles ⋈ STORED postings   (exact capped Jaccard)
                ∪ within-batch earlier-doc pairs      (same universe)
        decide  = kept ⇔ zero matches against anything EARLIER
        commit  = decisions → lake upsert; update_index(batch)

Design decisions that make this production-shaped rather than demo-shaped:

- **Decisions are independent of micro-batch boundaries.** A doc's stream
  position is ``(seq, doc_id)`` derived from the DATA (seq = which crawl
  day the doc belongs to), not from Spark's batch_id — "earlier" means
  strictly smaller (seq, doc_id). If the file source coalesces two crawl
  days into one micro-batch (availableNow does this when it falls
  behind), the within-batch path applies the same ordering rule, so the
  kept/dropped output is IDENTICAL under any trigger granularity. This
  is what makes the result deterministic — and SQL-expressible as a
  non-recursive oracle.
- **The index absorbs ALL seen docs, kept and dropped** (first-seen
  representative semantics, the same rule as ``dedup_cluster_canonical``:
  a future copy of a dropped near-dup should also drop, collapsing
  transitive chains toward the first-seen doc). This is also what keeps
  keep/drop NON-RECURSIVE: kept(x) depends only on text seen before x,
  never on earlier keep decisions.
- **Same capped universe as the index**: the hot-shingle list is fixed at
  index build time (production recomputes it on the weekly rebuild
  cadence — see ``update_index``); within-batch pairs hot-filter through
  the same stored list, so every Jaccard in the system scores one
  universe. (The round-6 sf1 post-mortem in SCALE.md is exactly what
  happens when two stages score different universes.)
- **A per-crawl-day df cap closes the batch-hot skew hole.** The stored
  hot list only knows shingles hot in the INDEXED corpus — a boilerplate
  template newly hot within one crawl day (thousands of docs in a single
  batch, zero stored df) would sail through it and re-create the
  quadratic shingle-bucket blowup the cap exists to prevent. So the
  batch's shingle pass ALSO drops, per doc, shingles whose df within
  that doc's OWN crawl day exceeds HOT_SHINGLE_DF_CAP
  (``day_capped_shingles``). The cap keys on seq — derived from the
  DATA, like everything else here — so a day's hot set is identical
  whether the day arrives alone or coalesced with others, preserving
  batch-boundary invariance; and because the day-capped postings are
  what ``update_index`` folds, a doc's universe is the same in every
  comparison it ever participates in (within-batch now, vs-index for
  all future batches). Every shingle bucket in the within-batch
  self-join is then ≤ cap docs per day present — skew-proof regardless
  of batch content, the same bound the stored postings carry.
- **Each registered run works on a COPY of the shared per-corpus index**
  (file-level copy of the committed snapshots — cheap vs recompute):
  ``update_index`` mutates, and a registered query must be idempotent
  across driver re-runs.

Scale shape: per batch, one shingle pass over the batch only; the
vs-index join is the df-capped postings join (every shingle bucket
≤ HOT_SHINGLE_DF_CAP stored docs); the within-batch self-join is bounded
by one crawl day's size. No exchange carries document text — shingles
and ids only. The indexed corpus is never re-read.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pgcp_spark.functions.dedup import (
    HOT_SHINGLE_DF_CAP,
    JACCARD_THRESHOLD,
    doc_shingles_of,
)
from pgcp_spark.functions.dedup_index import (
    BATCH_MOD,
    _SUBTABLES,
    batch_vs_index_docs,
    ensure_index,
    update_index,
)
from pgcp_spark.indexes import loop
from pgcp_spark.plans.materialize import materialize
from pgcp_spark.registry import register
from pgcp_spark.sources import load_table_parallel
from pgcp_spark.sources.lake import current_snapshot, read_current, upsert, write_snapshot

N_STREAM_BATCHES = 3  # crawl "days": seq = (doc_id div BATCH_MOD) % 3

_DECISION_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("batch_seq", T.LongType()),
        T.StructField("n_dup_prior", T.LongType()),
        T.StructField("kept", T.BooleanType()),
    ]
)


def _seq_col():
    return F.expr(f"(doc_id div {BATCH_MOD}) % {N_STREAM_BATCHES}")


def _stream_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streamed documents: the mod-BATCH_MOD batch slice (everything
    else is the pre-built indexed corpus, same split as the one-shot
    incremental query)."""
    return load_table_parallel(spark, sf_dir, "documents").filter(
        F.col("doc_id") % BATCH_MOD == 0
    )


def _copy_index(seed_dir: str) -> str:
    """Working copy via the shared harness (folding must not mutate the
    shared per-corpus index)."""
    return loop.copy_index(seed_dir, _SUBTABLES, "pgcp_ingest_index_")


def _stage_stream_files(docs: DataFrame, n: int = N_STREAM_BATCHES) -> str:
    """Stage the stream slice as one parquet file per crawl day via the
    shared harness (fixed increasing mtimes → whole-day delivery,
    oldest-first; the decision logic does NOT depend on this order — see
    module docstring — but deterministic staging keeps runs
    bit-identical in logs and progress too)."""
    return loop.stage_group_files(
        docs, _seq_col(), range(n), "pgcp_ingest_stream_"
    )


def day_capped_shingles(
    spark: SparkSession, batch_docs: DataFrame, index_dir: str
) -> DataFrame:
    """The ingest batch's ONE shingle pass: the stored capped universe
    (hot list filtered out) minus, per doc, shingles day-hot within the
    doc's OWN crawl day (df over seq-mates > HOT_SHINGLE_DF_CAP).

    The day cap is what keeps the within-batch self-join skew-proof when
    a boilerplate template is hot only in the incoming day (stored df 0,
    so the build-time hot list cannot know it): without it, one such
    shingle re-creates the quadratic bucket blowup the cap exists to
    prevent. Keying the cap on seq — data-derived — rather than the
    micro-batch keeps decisions trigger-invariant (a day's hot set is
    the same coalesced or alone; the file source delivers whole days, so
    a batch always contains complete seq groups), and folding THESE
    postings into the index (``process_ingest_batch``) gives each doc
    one universe across every comparison it will ever be part of.

    One window exchange on (seq, shingle) computes the day df in the
    same pass that carries the shingles — no second scan, no self-join.
    MATERIALIZED: the frame feeds the vs-index join, the within-batch
    join, and the index fold.
    """
    hot_stored = read_current(spark, os.path.join(index_dir, "hot_shingles"))
    sh = doc_shingles_of(batch_docs).join(hot_stored, "shingle", "left_anti")
    day_df = F.count("*").over(Window.partitionBy(_seq_col(), "shingle"))
    return materialize(
        sh.withColumn("day_df", day_df)
        .filter(F.col("day_df") <= HOT_SHINGLE_DF_CAP)
        .drop("day_df")
    )


def within_batch_pairs(
    batch_docs: DataFrame, index_dir: str, batch_sh: DataFrame | None = None
) -> DataFrame:
    """(doc_new, doc_old) pairs INSIDE one micro-batch where doc_old is
    strictly earlier by (seq, doc_id) and capped Jaccard ≥ threshold —
    the same universe (stored hot list + own-day cap, see
    ``day_capped_shingles``) and the same rounding convention as the
    vs-index path, so one threshold rule governs the whole system. The
    self-join is skew-proof: every shingle bucket holds ≤ cap docs per
    day present in the batch."""
    spark = batch_docs.sparkSession
    sh = (
        batch_sh
        if batch_sh is not None
        else day_capped_shingles(spark, batch_docs, index_dir)
    )
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    seq_of = batch_docs.select("doc_id", _seq_col().alias("seq"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_new"), F.col("b.doc_id").alias("doc_old"))
        .agg(F.count("*").alias("n_shared"))
    )
    jac = F.col("n_shared").cast("double") / (
        F.col("sz_new") + F.col("sz_old") - F.col("n_shared")
    )
    return (
        inter.join(sz.select(F.col("doc_id").alias("doc_new"), F.col("sz").alias("sz_new")), "doc_new")
        .join(sz.select(F.col("doc_id").alias("doc_old"), F.col("sz").alias("sz_old")), "doc_old")
        .join(seq_of.select(F.col("doc_id").alias("doc_new"), F.col("seq").alias("seq_new")), "doc_new")
        .join(seq_of.select(F.col("doc_id").alias("doc_old"), F.col("seq").alias("seq_old")), "doc_old")
        .filter(
            (F.col("seq_old") < F.col("seq_new"))
            | ((F.col("seq_old") == F.col("seq_new")) & (F.col("doc_old") < F.col("doc_new")))
        )
        .filter(F.round(jac, 6) >= JACCARD_THRESHOLD)
        .select("doc_new", "doc_old")
    )


def process_ingest_batch(
    spark: SparkSession, batch: DataFrame, index_dir: str, decisions_dir: str
) -> None:
    """One micro-batch of the ingest loop: decide keep/drop for every doc
    in ``batch`` against everything strictly earlier, commit the decisions
    to the lake table at ``decisions_dir``, fold the batch into the index.

    REPLAY-IDEMPOTENT by construction — foreachBatch is at-least-once (a
    crash after the index fold but before the checkpoint commit
    re-delivers the same batch), so every effect must converge under
    re-execution: ``batch_vs_index_docs`` anti-joins away doc_old in the
    current batch (else the already-folded batch matches itself in both
    directions and flips same-batch keep decisions — see its docstring),
    and both commits are keyed upserts. Pinned in
    tests/test_ingest_dedup.py::test_batch_replay_is_idempotent."""
    batch = materialize(batch)
    # ONE shingle pass per batch — stored-hot filtered AND own-day capped
    # (day_capped_shingles) — shared by the vs-index join, the
    # within-batch join, and the index fold (measured: 3 passes → 1
    # took the registered query 20.1 → 13.5 s at sf0.1)
    batch_sh = day_capped_shingles(spark, batch, index_dir)
    vs_index = batch_vs_index_docs(
        spark, batch, index_dir, batch_sh=batch_sh
    ).select("doc_new", "doc_old")
    within = within_batch_pairs(batch, index_dir, batch_sh=batch_sh)
    prior = (
        vs_index.unionByName(within)
        .groupBy("doc_new")
        .agg(F.countDistinct("doc_old").alias("n_dup_prior"))
    )
    decisions = (
        batch.select("doc_id", _seq_col().alias("batch_seq"))
        .join(prior.withColumnRenamed("doc_new", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            "batch_seq",
            F.coalesce(F.col("n_dup_prior"), F.lit(0)).alias("n_dup_prior"),
            (F.coalesce(F.col("n_dup_prior"), F.lit(0)) == 0).alias("kept"),
        )
    )
    if current_snapshot(decisions_dir) is None:
        write_snapshot(decisions, decisions_dir)
    else:
        upsert(spark, decisions_dir, decisions, key=["doc_id"])
    update_index(spark, batch, index_dir, batch_postings=batch_sh)
    # self-healing cadence (round 10): every FLATTEN_MAX_DELTAS-th batch
    # merges each subtable's fold deltas so the vs-index joins' read tax
    # never compounds under deferred maintenance
    for t, key in (
        ("signatures", ["doc_id"]),
        ("postings", ["shingle", "doc_id"]),
        ("sizes", ["doc_id"]),
    ):
        loop.maybe_flatten(spark, os.path.join(index_dir, t), key=key)


def run_ingest_dedup(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """Run the full streaming ingest-dedup loop; return the committed
    per-doc decision table (doc_id, batch_seq, n_dup_prior, kept).

    ``max_files_per_trigger=None`` lets availableNow swallow every crawl
    day in ONE micro-batch — the decisions must come out identical (the
    batch-boundary-invariance property; pinned in
    tests/test_ingest_dedup.py).

    Every run-scoped dir is reclaimed: the stream staging (incl. its
    checkpoint) and the index working copy as soon as the stream
    terminates — on success or failure — and the decisions table right
    after the result frame is materialized off it. Under the LAZY
    materialization modes (``persist``: lineage kept for fault
    tolerance; ``none``: plan audits) the returned frame still reads the
    decision files, so their deletion is deferred to interpreter exit
    instead (pinned in tests/test_ingest_dedup.py::test_no_tmp_leak)."""
    seed = ensure_index(spark, sf_dir)
    index_dir = _copy_index(seed)
    decisions_dir = tempfile.mkdtemp(prefix="pgcp_ingest_decisions_")
    staging = None
    try:
        staging = _stage_stream_files(_stream_slice(spark, sf_dir))

        def process(batch: DataFrame, batch_id: int) -> None:
            process_ingest_batch(spark, batch, index_dir, decisions_dir)

        loop.run_availablenow_stream(
            spark,
            staging,
            _stream_slice(spark, sf_dir).schema,
            process,
            max_files_per_trigger,
        )

        if current_snapshot(decisions_dir) is None:  # zero-row stream slice
            shutil.rmtree(decisions_dir, ignore_errors=True)
            return spark.createDataFrame([], _DECISION_SCHEMA)
        result = materialize(read_current(spark, decisions_dir).orderBy("doc_id"))
    except BaseException:
        shutil.rmtree(decisions_dir, ignore_errors=True)
        raise
    finally:
        if staging is not None:
            shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(index_dir, ignore_errors=True)
    loop.reclaim_by_mode(decisions_dir)
    return result


@register(
    "streaming_ingest_dedup_decisions",
    oracle=f"""
WITH sh0 AS (
  SELECT doc_id, UNNEST(list_distinct(list_transform(
           range(len(t) - 2),
           i -> concat_ws(' ', t[i+1], t[i+2], t[i+3])))) AS shingle
  FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), ' +', ' ', 'g')), ' ') AS t
        FROM documents)
),
hot AS (
  SELECT shingle FROM sh0 WHERE doc_id % {BATCH_MOD} <> 0
  GROUP BY shingle HAVING COUNT(*) > {HOT_SHINGLE_DF_CAP}
),
capped AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
stream AS (
  SELECT doc_id, (doc_id // {BATCH_MOD}) % {N_STREAM_BATCHES} AS seq
  FROM documents WHERE doc_id % {BATCH_MOD} = 0
),
-- day-hot: shingles whose df within one crawl day exceeds the cap are
-- dropped from that day's docs' universes (mirrors day_capped_shingles)
day_hot AS (
  SELECT s.seq, c.shingle
  FROM capped c JOIN stream s ON c.doc_id = s.doc_id
  GROUP BY s.seq, c.shingle HAVING COUNT(*) > {HOT_SHINGLE_DF_CAP}
),
capped2 AS (
  SELECT c.doc_id, c.shingle
  FROM capped c
  LEFT JOIN stream st ON c.doc_id = st.doc_id
  LEFT JOIN day_hot dh ON dh.seq = st.seq AND dh.shingle = c.shingle
  WHERE dh.shingle IS NULL
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM capped2 GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_new, b.doc_id AS doc_old, COUNT(*) AS n_shared
  FROM capped2 a JOIN capped2 b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  WHERE a.doc_id % {BATCH_MOD} = 0
  GROUP BY 1, 2
),
matches AS (
  SELECT p.doc_new, p.doc_old
  FROM pairs p
  JOIN sizes sn ON p.doc_new = sn.doc_id
  JOIN sizes so ON p.doc_old = so.doc_id
  WHERE ROUND(CAST(p.n_shared AS DOUBLE) / (sn.sz + so.sz - p.n_shared), 6)
        >= {JACCARD_THRESHOLD}
),
prior AS (
  SELECT m.doc_new, COUNT(DISTINCT m.doc_old) AS n_dup_prior
  FROM matches m
  JOIN stream s ON m.doc_new = s.doc_id
  LEFT JOIN stream so ON m.doc_old = so.doc_id
  WHERE so.doc_id IS NULL
     OR so.seq < s.seq
     OR (so.seq = s.seq AND so.doc_id < s.doc_id)
  GROUP BY 1
)
SELECT s.doc_id, s.seq AS batch_seq,
       COALESCE(p.n_dup_prior, 0) AS n_dup_prior,
       COALESCE(p.n_dup_prior, 0) = 0 AS kept
FROM stream s LEFT JOIN prior p ON s.doc_id = p.doc_new
ORDER BY s.doc_id
""",
)
def streaming_ingest_dedup_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming crawl-ingest dedup (module docstring): the mod-10 slice
    of documents streams in as three crawl-day files; each
    micro-batch dedups against the persisted index + its own earlier
    docs, commits keep/drop decisions to a lake table, and is folded into
    the index. The oracle replays the identical semantics exhaustively:
    a streamed doc is dropped iff ANY doc strictly earlier by
    (seq, doc_id) — indexed corpus counting as earlier-than-everything —
    matches at capped Jaccard ≥ threshold over the doc's universe
    (build-time hot list + own-crawl-day df cap, both mirrored in the
    SQL). Expressible WITHOUT recursion precisely because the index
    absorbs all seen docs (kept(x) never depends on kept(y))."""
    return run_ingest_dedup(spark, sf_dir)
