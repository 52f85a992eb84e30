"""Incremental dedup against a lake-persisted index (postings + MinHash).

Every one-shot dedup query recomputes signatures from the full corpus; a
production 100 TB pipeline cannot — it dedups TODAY'S batch against an
index built from everything already ingested, touching the old corpus
zero times. This module is that shape, built on the existing lake layer
(`sources/lake.py` snapshot commit protocol):

  **Index build** (once per corpus version): from the already-ingested
  docs, persist four lake tables under one index directory —

    signatures/    (doc_id, sig array<long>)   MinHash k=32, shared
                   definition with the one-shot query (dedup.py), so
                   stored and fresh signatures are bit-identical
    postings/      (shingle, doc_id)           df-capped inverted index
    sizes/         (doc_id, sz)                capped shingle count/doc
    hot_shingles/  (shingle)                   the dropped hot shingles

  **Exact batch-vs-index query** (the registered, oracle-checked path):
  the new batch's shingles (hot-filtered through the stored hot list)
  join the STORED postings — the same inverted-index join as the one-shot
  capped query, but with the old side precomputed, so the indexed corpus
  is never re-read, let alone re-shingled. Recall is 1.0 BY CONSTRUCTION
  (every co-shingling pair meets in the join), and the df cap bounds
  every shingle bucket at ≤ HOT_SHINGLE_DF_CAP stored docs — the
  skew-proof shape, now with the build cost amortized across batches.

  **MinHash band candidates** (``batch_vs_index_minhash_candidates``,
  the sub-quadratic scale path): band-join the batch's band buckets
  against the STORED signatures' buckets (ids-only exchange). This is
  APPROXIMATE — signatures hash the RAW shingle set while the exact
  Jaccard above scores the CAPPED universe, and a pair can be
  threshold-high in the capped universe while near-zero in raw Jaccard.
  The round-6 sf1 sweep measured exactly that divergence: on the
  10×-replicated lake, banding recalled only 700 of the 43,900
  capped-exact pairs (borderline shingles inflate capped Jaccard;
  replication-shared boilerplate deflates the raw signature agreement).
  So the band path carries a RECALL contract (floors in
  tests/test_dedup_index.py, like LSH/IVF), never an exactness one —
  use it when even the df-capped postings join is too much corpus² and
  approximate recall is the accepted trade; tune bands to the corpus.

The "new batch" is the deterministic slice doc_id % BATCH_MOD == 0 (a
stand-in for today's crawl); everything else is the indexed corpus.

Reference anchor: none — the reference (holistics/pgcp, a Postgres copy
tool) has no dedup surface; this is north-star LLM-pipeline territory,
promised by the round-5 docstrings ("production would persist the
signature table to the lake for reuse across dedup runs").
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgcp_spark.functions.dedup import (
    HOT_SHINGLE_DF_CAP,
    JACCARD_THRESHOLD,
    band_buckets,
    doc_shingles_of,
    minhash_signatures,
)
from pgcp_spark.indexes import loop
from pgcp_spark.plans.materialize import materialize
from pgcp_spark.registry import register
from pgcp_spark.sources import load_table_parallel
from pgcp_spark.sources.lake import (
    append_delta,
    flatten_deltas,
    read_current,
    read_current_with_deltas,
    write_snapshot,
)

BATCH_MOD = 10  # doc_id % 10 == 0 → "new batch"; else → indexed corpus
INC_BANDS = 16  # 16 bands × 2 rows of the k=32 signature (recall-tuned)

INDEX_ROOT = os.environ.get("SPARK_GRAFT_INDEX_ROOT", "/tmp/pgcp_dedup_index")
_SUBTABLES = ("signatures", "postings", "sizes", "hot_shingles")


def index_dir_for(sf_dir: str) -> str:
    """Deterministic index location keyed by the CONTENT VERSION of the
    corpus (path + file sizes + mtimes of documents.parquet, via the
    shared harness): a regenerated lake under the same path fingerprints
    differently, so a stale index can never serve a changed corpus — it
    is simply a different directory, and the build runs again."""
    return loop.content_version_dir(INDEX_ROOT, sf_dir, "documents.parquet")


def _indexed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table_parallel(spark, sf_dir, "documents").filter(
        F.col("doc_id") % BATCH_MOD != 0
    )


def _batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table_parallel(spark, sf_dir, "documents").filter(
        F.col("doc_id") % BATCH_MOD == 0
    )


def build_index_from(spark: SparkSession, docs: DataFrame, index_dir: str) -> None:
    """Build + commit the dedup index from a documents-shaped frame.

    One shingle pass feeds postings and the hot list; sizes derive from
    the COMMITTED postings parquet (read back, aggregate — zero
    recompute); signatures are their own row-local pass. Each table
    commits through the lake's atomic pointer swap, so a concurrent
    reader sees complete old or complete new tables, never halves.
    """
    write_snapshot(minhash_signatures(docs), os.path.join(index_dir, "signatures"))

    sh0 = materialize(doc_shingles_of(docs))  # feeds hot + postings
    hot = (
        sh0.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > HOT_SHINGLE_DF_CAP)
        .select("shingle")
    )
    write_snapshot(hot, os.path.join(index_dir, "hot_shingles"))
    hot_stored = read_current(spark, os.path.join(index_dir, "hot_shingles"))
    postings = sh0.join(hot_stored, "shingle", "left_anti")
    write_snapshot(postings, os.path.join(index_dir, "postings"))
    sizes = (
        read_current(spark, os.path.join(index_dir, "postings"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("sz"))
    )
    write_snapshot(sizes, os.path.join(index_dir, "sizes"))


def build_index(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Registered-query entry: build from the mod-BATCH_MOD indexed slice."""
    build_index_from(spark, _indexed_corpus(spark, sf_dir), index_dir)


def hot_filtered_shingles(
    spark: SparkSession, batch_docs: DataFrame, index_dir: str
) -> DataFrame:
    """The batch's shingles restricted to the index's capped universe
    (stored hot list filtered out), MATERIALIZED — the one shingle pass a
    batch needs, shareable across query + within-batch + fold consumers."""
    hot_stored = read_current(spark, os.path.join(index_dir, "hot_shingles"))
    return materialize(
        doc_shingles_of(batch_docs).join(hot_stored, "shingle", "left_anti")
    )


def update_index(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    batch_postings: DataFrame | None = None,
) -> None:
    """Index maintenance: fold a just-deduped batch INTO the index so the
    next batch dedups against it too — the daily upkeep step of the
    production pipeline (dedup batch N against index, absorb batch N,
    repeat). Since round 9 each fold lands as an APPENDED DELTA PARTITION
    (``lake.append_delta``; O(batch), the corpus-sized tables never
    rewritten) served through the merge-on-read readers, replacing the
    copy-on-write MERGEs whose cost grew with INDEX size. Replacement
    semantics are per key, identical to the upserts they replace:

      - signatures/sizes: keyed doc_id — a re-ingested doc's newest
        delta row shadows its old one;
      - postings: keyed (shingle, doc_id) — exact-row replacement, batch
        shingles filtered through the CURRENT hot list first;
      - hot_shingles: left as-is per batch. The df cap is defined by the
        indexed corpus at BUILD time; absorbing batches shifts true
        document frequencies slowly, so the hot list is refreshed on a
        rebuild cadence, not per fold — and since round 7 that refresh
        is ``promote_hot_shingles``, an O(index) incremental pass that
        converges to the from-scratch hot list with zero corpus access
        (it flattens pending deltas first). Between cadence runs the
        trade is unchanged: a newly-hot shingle costs extra candidate
        pairs but never wrong results (verification is exact)."""
    append_delta(
        minhash_signatures(batch), os.path.join(index_dir, "signatures")
    )
    if batch_postings is None:
        batch_postings = hot_filtered_shingles(spark, batch, index_dir)
    append_delta(batch_postings, os.path.join(index_dir, "postings"))
    append_delta(
        batch_postings.groupBy("doc_id").agg(F.count("*").alias("sz")),
        os.path.join(index_dir, "sizes"),
    )


# effective (merge-on-read) readers for the three delta-folded tables —
# base ∪ pending fold deltas, newest delta winning per key; with no
# pending folds each IS the plain base read
_DELTA_KEYS = {
    "signatures": ["doc_id"],
    "postings": ["shingle", "doc_id"],
    "sizes": ["doc_id"],
}


def stored_table(spark: SparkSession, index_dir: str, table: str) -> DataFrame:
    return read_current_with_deltas(
        spark, os.path.join(index_dir, table), key=_DELTA_KEYS[table]
    )


def _flatten_all(spark: SparkSession, index_dir: str) -> None:
    """Merge pending fold deltas into the bases — the step every mutating
    maintenance path (promote / remove / compact) runs first, because
    each rewrites tables from full reads and rows hiding in un-merged
    deltas would survive (or go stale) otherwise."""
    for t, key in _DELTA_KEYS.items():
        flatten_deltas(spark, os.path.join(index_dir, t), key=key)


def promote_hot_shingles(spark: SparkSession, index_dir: str) -> int:
    """Incremental hot-list maintenance — the rebuild-cadence step of
    ``update_index``'s documented trade, as code instead of a corpus
    re-shingle.

    Folding batches pushes stored document frequencies up while the
    build-time hot list stays frozen, so a shingle can cross
    HOT_SHINGLE_DF_CAP *after* build and start costing extra candidate
    pairs on every subsequent batch. Its full df is visible IN the
    stored postings (only already-hot shingles are excluded at fold
    time), so the recompute needs no corpus access at all: promote every
    postings shingle whose stored df exceeds the cap into
    ``hot_shingles``, drop its postings rows, and re-derive sizes.

    CONVERGENCE CONTRACT (pinned in tests/test_dedup_index.py): under
    append-only absorption, the promoted index's postings / sizes /
    hot_shingles are BIT-IDENTICAL to ``build_index_from`` run from
    scratch on the absorbed corpus — the weekly rebuild collapses to an
    O(index) maintenance pass. Under doc REPLACEMENT (an upsert that
    removes shingles), the hot list stays a superset of the from-scratch
    one — hotness is monotone here — which is the conservative side:
    a retained hot shingle only shrinks the capped universe, it never
    un-caps a bucket. Returns the number of shingles promoted; commits
    nothing when the answer is zero.
    """
    _flatten_all(spark, index_dir)
    postings_dir = os.path.join(index_dir, "postings")
    postings = read_current(spark, postings_dir)
    newly_hot = (
        postings.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > HOT_SHINGLE_DF_CAP)
        .select("shingle")
    )
    n = newly_hot.count()
    if n == 0:
        return 0
    newly_hot = materialize(newly_hot)  # feeds the hot union AND the anti-join
    hot_dir = os.path.join(index_dir, "hot_shingles")
    write_snapshot(
        read_current(spark, hot_dir).unionByName(newly_hot), hot_dir
    )
    remaining = postings.join(newly_hot, "shingle", "left_anti")
    write_snapshot(remaining, postings_dir)
    write_snapshot(
        read_current(spark, postings_dir).groupBy("doc_id").agg(F.count("*").alias("sz")),
        os.path.join(index_dir, "sizes"),
    )
    return n


def remove_from_index(
    spark: SparkSession, ids: DataFrame, index_dir: str
) -> None:
    """Retention/GDPR delete propagation: drop ``ids`` (single column
    ``doc_id``) from signatures, postings, and sizes — one keyed
    ``lake.delete`` each. Without this, a document deleted from the
    corpus keeps matching future batches through its stored postings,
    resurfacing text the retention policy removed.

    Since round 10 each delete lands as an O(keys) TOMBSTONE DELTA
    (``lake.delete_delta`` — previously flatten + three keyed
    copy-on-write rewrites whose cost grew with INDEX size, the exact
    asymmetry round 9 removed from the fold side). The postings table is
    keyed (shingle, doc_id) but the tombstone addresses doc_id alone —
    the partial-key equality-delete shape the reader resolves by killing
    every matching row older than the tombstone, so rows hiding in
    un-merged fold deltas die too (one commit log versions deletes
    against folds). Physical reclaim happens at the next maintenance
    flatten (``promote_hot_shingles`` / ``compact_index`` /
    ``remove``-free cadence ops all run ``_flatten_all`` first) — the
    "truly gone" GDPR step, same deferred-merge cost model as the fold.

    ``hot_shingles`` is left untouched, the same frozen-cap contract as
    ``update_index``'s fold side: removal can only make a shingle
    COLDER, and a retained hot shingle only shrinks the capped universe
    — extra conservatism, never wrong results (``promote_hot_shingles``
    holds the inverse, monotone-hotter argument). The next rebuild-
    cadence pass re-derives the list either way. Removing absent ids is
    a no-op, so replay converges."""
    from pgcp_spark.sources.lake import delete_delta

    ids = materialize(ids.select("doc_id").distinct())
    for t in ("signatures", "postings", "sizes"):
        delete_delta(ids, os.path.join(index_dir, t), key=["doc_id"])


RETENTION_MOD = 7  # the indexed-corpus slice the registered query removes

_RETENTION_ORACLE = f"""
WITH sh0 AS (
  SELECT doc_id, UNNEST(list_distinct(list_transform(
           range(len(t) - 2),
           i -> concat_ws(' ', t[i+1], t[i+2], t[i+3])))) AS shingle
  FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), ' +', ' ', 'g')), ' ') AS t
        FROM documents)
),
old_sh AS (SELECT * FROM sh0 WHERE doc_id % {BATCH_MOD} <> 0),
new_sh AS (SELECT * FROM sh0 WHERE doc_id % {BATCH_MOD} = 0),
-- the hot list is FROZEN at build time, over the FULL indexed corpus:
-- removal makes shingles colder, never hotter, and the stored list is
-- only refreshed on the rebuild cadence — the oracle mirrors that
hot AS (SELECT shingle FROM old_sh GROUP BY shingle HAVING COUNT(*) > {HOT_SHINGLE_DF_CAP}),
postings AS (
  SELECT * FROM old_sh
  WHERE shingle NOT IN (SELECT shingle FROM hot)
    AND doc_id % {RETENTION_MOD} <> 0
),
batch AS (SELECT * FROM new_sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes_old AS (SELECT doc_id, COUNT(*) AS sz FROM postings GROUP BY doc_id),
sizes_new AS (SELECT doc_id, COUNT(*) AS sz FROM batch GROUP BY doc_id),
inter AS (
  SELECT n.doc_id AS doc_new, o.doc_id AS doc_old, COUNT(*) AS n_shared
  FROM batch n JOIN postings o ON n.shingle = o.shingle
  GROUP BY 1, 2
)
SELECT i.doc_new, i.doc_old, i.n_shared,
       ROUND(CAST(i.n_shared AS DOUBLE) / (sn.sz + so.sz - i.n_shared), 6) AS jaccard
FROM inter i
JOIN sizes_new sn ON i.doc_new = sn.doc_id
JOIN sizes_old so ON i.doc_old = so.doc_id
WHERE ROUND(CAST(i.n_shared AS DOUBLE) / (sn.sz + so.sz - i.n_shared), 6) >= {JACCARD_THRESHOLD}
ORDER BY doc_new, doc_old
"""


@register(
    "dedup_batch_vs_index_after_delete",
    oracle=_RETENTION_ORACLE,
    doc="retention delete propagated through the dedup signature index: remove the %7 slice of the INDEXED corpus from postings/signatures/sizes (hot list frozen per the build-cadence contract), then dedup the batch — hash-exact vs the capped-Jaccard oracle on the retained corpus",
)
def dedup_batch_vs_index_after_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention pipeline on the dedup index: copy the shared
    per-corpus index (registered queries must not mutate shared state),
    ``remove_from_index`` the ``doc_id % 7 == 0`` slice of the INDEXED
    corpus, then run the exact batch-vs-index dedup. The oracle
    recomputes the capped Jaccard with the old side restricted to the
    retained docs — and the hot list still computed over the FULL
    pre-delete corpus, mirroring the frozen-cap semantics the stored
    list actually has. A hash match proves removed docs can never again
    match an incoming batch, while every retained pair scores
    identically to before."""
    from pgcp_spark.indexes import loop

    seed = ensure_index(spark, sf_dir)
    work = loop.copy_index(seed, _SUBTABLES, "pgcp_dedup_retention_")
    import shutil

    try:
        remove_from_index(
            spark,
            _indexed_corpus(spark, sf_dir)
            .filter(F.col("doc_id") % RETENTION_MOD == 0)
            .select("doc_id"),
            work,
        )
        result = materialize(batch_vs_index(spark, sf_dir, work))
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    loop.reclaim_by_mode(work)
    return result


def compact_index(
    spark: SparkSession, index_dir: str, target_file_bytes: int = 128 * 1024 * 1024
) -> None:
    """The index's OPTIMIZE maintenance op (the "weekly compaction" the
    ``update_index`` docstring schedules the hot-list recompute against):
    every fold's copy-on-write MERGE re-emits each table at whatever file
    count its job produced, and a long fold history accumulates small
    files that tax every subsequent batch join with per-file task/footer
    overhead. Compaction rewrites each table toward ``target_file_bytes``
    through the same atomic pointer swap as any commit — same rows,
    fewer files; concurrent readers never see a partial state, and a
    query that resolved the pre-compaction pointer keeps its files for
    the lake's reader grace. No
    clustering here: the postings join consumes the whole table (no
    selective scan to preserve a layout for), unlike the ANN index's
    list_id-pruned vectors. Pending fold deltas merge into the bases
    first (the deferred half of the O(batch) fold cost, paid here on the
    cadence)."""
    _flatten_all(spark, index_dir)
    loop.compact_tables(
        spark, index_dir, _SUBTABLES, target_file_bytes=target_file_bytes
    )


def ensure_index(spark: SparkSession, sf_dir: str) -> str:
    """Build the index iff this corpus version has none yet; return its dir.

    Concurrency contract: SINGLE WRITER per index dir — the lake layer's
    pointer commit is atomic per table, but a concurrent builder's GC can
    reap another builder's not-yet-committed snapshot dir as a crash
    orphan. Readers are always safe (they resolve the committed pointer);
    production serializes builds/updates behind its scheduler, the same
    discipline every lock-service-free lakehouse table needs.
    """
    index_dir = index_dir_for(sf_dir)
    return loop.ensure_built(
        index_dir, _SUBTABLES, lambda: build_index(spark, sf_dir, index_dir)
    )


def batch_vs_index_docs(
    spark: SparkSession,
    batch_docs: DataFrame,
    index_dir: str,
    batch_sh: DataFrame | None = None,
) -> DataFrame:
    """EXACT near-dup pairs between a new batch frame and the INDEXED
    corpus, with the indexed side served entirely from the stored lake
    tables (zero re-reads of the old corpus).

    Candidates ARE the inverted-index join: batch shingles (hot-filtered
    through the stored hot list — the index defines the capped universe;
    a batch shingle unseen by the index has df_old = 0 and counts) join
    the stored postings on shingle. Recall 1.0 by construction; the df
    cap bounds each shingle's stored bucket at ≤ HOT_SHINGLE_DF_CAP docs,
    so the join is skew-proof regardless of batch content.

    Replay contract: pairs are batch-vs-PRIOR-corpus — doc_old in the
    current batch is anti-joined away (over the small candidate-pair set,
    not the postings). On first delivery that's a no-op (the batch is not
    yet folded); under Structured Streaming's at-least-once foreachBatch
    replay, a batch already absorbed by ``update_index`` would otherwise
    match its own docs in BOTH directions through the stored postings,
    inflating the ingest loop's n_dup_prior for the earlier doc of every
    same-batch near-dup pair and flipping its keep decision (the
    within-batch path is the sole authority for same-batch ordering).
    Pinned in tests/test_ingest_dedup.py::test_batch_replay_is_idempotent.

    The batch's shingle frame is materialized once — it feeds
    both the join and the batch-size aggregate — and callers that also
    fold the batch (the streaming ingest loop) pass their own
    ``batch_sh`` so the shingle pass runs once per batch, not once per
    consumer.
    """
    postings = stored_table(spark, index_dir, "postings")
    sizes_old = stored_table(spark, index_dir, "sizes")

    if batch_sh is None:
        batch_sh = hot_filtered_shingles(spark, batch_docs, index_dir)
    sz_new = batch_sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        batch_sh.alias("bn")
        .join(postings.alias("po"), F.col("bn.shingle") == F.col("po.shingle"))
        .filter(F.col("bn.doc_id") != F.col("po.doc_id"))
        .groupBy(
            F.col("bn.doc_id").alias("doc_new"), F.col("po.doc_id").alias("doc_old")
        )
        .agg(F.count("*").alias("n_shared"))
        .join(
            batch_docs.select(F.col("doc_id").alias("doc_old")),
            "doc_old",
            "left_anti",
        )
    )
    jac = F.col("n_shared").cast("double") / (
        F.col("sz_new") + F.col("sz_old") - F.col("n_shared")
    )
    return (
        inter.join(
            sz_new.select(F.col("doc_id").alias("doc_new"), F.col("sz").alias("sz_new")),
            "doc_new",
        )
        .join(
            sizes_old.select(F.col("doc_id").alias("doc_old"), F.col("sz").alias("sz_old")),
            "doc_old",
        )
        .select("doc_new", "doc_old", "n_shared", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_new", "doc_old")
    )


def batch_vs_index_minhash_candidates(
    spark: SparkSession, batch_docs: DataFrame, index_dir: str, bands: int = INC_BANDS
) -> DataFrame:
    """APPROXIMATE near-dup candidates: band-join the batch's MinHash band
    buckets against the STORED signatures — the sub-quadratic scale path
    when even the df-capped postings join is too much corpus².

    Returns (doc_new, doc_old, est_jaccard ≥ JACCARD_THRESHOLD) where
    est_jaccard is the signature agreement fraction. RECALL contract,
    not exactness (module docstring: raw-universe signatures vs
    capped-universe Jaccard diverge on boilerplate-heavy corpora —
    measured floors in tests/test_dedup_index.py). Shuffle shape: the
    exploded band join carries ids only; signatures re-attach to the
    distinct'd candidate set (the round-5 discipline).
    """
    from pgcp_spark.functions.dedup import MINHASH_K

    sigs_stored = stored_table(spark, index_dir, "signatures")
    batch_sigs = materialize(minhash_signatures(batch_docs))

    n = band_buckets(batch_sigs, bands).alias("n")
    o = band_buckets(sigs_stored, bands).alias("o")
    cand = (
        n.join(
            o,
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.bucket") == F.col("o.bucket"))
            & (F.col("n.doc_id") != F.col("o.doc_id")),
        )
        .select(F.col("n.doc_id").alias("doc_new"), F.col("o.doc_id").alias("doc_old"))
        .distinct()
    )
    sn = batch_sigs.select(F.col("doc_id").alias("doc_new"), F.col("sig").alias("sig_n"))
    so = sigs_stored.select(F.col("doc_id").alias("doc_old"), F.col("sig").alias("sig_o"))
    est = (
        F.size(
            F.filter(F.zip_with("sig_n", "sig_o", lambda x, y: x == y), lambda m: m)
        ).cast("double")
        / MINHASH_K
    )
    return (
        cand.join(sn, "doc_new")
        .join(so, "doc_old")
        .select("doc_new", "doc_old", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_new", "doc_old")
    )


def batch_vs_index(spark: SparkSession, sf_dir: str, index_dir: str) -> DataFrame:
    """Registered-query entry: dedup the mod-BATCH_MOD batch slice."""
    return batch_vs_index_docs(spark, _batch(spark, sf_dir), index_dir)


@register(
    "dedup_incremental_batch_vs_index",
    oracle=f"""
WITH sh0 AS (
  SELECT doc_id, UNNEST(list_distinct(list_transform(
           range(len(t) - 2),
           i -> concat_ws(' ', t[i+1], t[i+2], t[i+3])))) AS shingle
  FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), ' +', ' ', 'g')), ' ') AS t
        FROM documents)
),
old_sh AS (SELECT * FROM sh0 WHERE doc_id % {BATCH_MOD} <> 0),
new_sh AS (SELECT * FROM sh0 WHERE doc_id % {BATCH_MOD} = 0),
hot AS (SELECT shingle FROM old_sh GROUP BY shingle HAVING COUNT(*) > {HOT_SHINGLE_DF_CAP}),
postings AS (SELECT * FROM old_sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
batch AS (SELECT * FROM new_sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes_old AS (SELECT doc_id, COUNT(*) AS sz FROM postings GROUP BY doc_id),
sizes_new AS (SELECT doc_id, COUNT(*) AS sz FROM batch GROUP BY doc_id),
inter AS (
  SELECT n.doc_id AS doc_new, o.doc_id AS doc_old, COUNT(*) AS n_shared
  FROM batch n JOIN postings o ON n.shingle = o.shingle
  GROUP BY 1, 2
)
SELECT i.doc_new, i.doc_old, i.n_shared,
       ROUND(CAST(i.n_shared AS DOUBLE) / (sn.sz + so.sz - i.n_shared), 6) AS jaccard
FROM inter i
JOIN sizes_new sn ON i.doc_new = sn.doc_id
JOIN sizes_old so ON i.doc_old = so.doc_id
WHERE ROUND(CAST(i.n_shared AS DOUBLE) / (sn.sz + so.sz - i.n_shared), 6) >= {JACCARD_THRESHOLD}
ORDER BY doc_new, doc_old
""",
)
def dedup_incremental_batch_vs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup a new batch against the lake-persisted index: the batch's
    shingles join the STORED postings (exact capped Jaccard, stored
    sizes) — the daily-ingest shape of a 100 TB dedup pipeline, with the
    indexed corpus read zero times per batch. The index is built once per
    corpus version (``ensure_index``); reruns reuse it untouched (pinned
    by tests/test_dedup_index.py).

    The oracle is the exhaustive capped-Jaccard join restricted to
    new-vs-old pairs — equal BY CONSTRUCTION at any scale (the query is
    that computation with the old side precomputed; verified through the
    full lake matrix incl. the 10×-replicated sf1 lake, whose 43,900-pair
    result is what disqualified the earlier MinHash-pruned hybrid — see
    the module docstring and ``batch_vs_index_minhash_candidates`` for
    the approximate scale path and its recall contract).
    """
    index_dir = ensure_index(spark, sf_dir)
    return batch_vs_index(spark, sf_dir, index_dir)
