"""Persisted BM25 inverted index: ranked retrieval served from the lake.

``text_bm25_search_topk`` (functions/text.py) re-tokenizes the corpus and
rebuilds the (doc_id, tok, n) aggregate on every query; its own docstring
promised that production persists that artifact. This module is that
promise kept — the FOURTH lake-maintained index family (after dedup
signatures, IVF vectors, and HLL sketch partials), built on the shared
harness (``indexes/loop.py``):

    index layout (one dir per CONTENT VERSION of documents.parquet)
      postings/  (tok, doc_id, n, dl)   the inverted index, CLUSTER BY
                 tok — file min/max tok ranges are narrow, so a query
                 reads ONLY the files its terms land in. Per-doc length
                 ``dl`` is denormalized into the postings row (the norm
                 inline, as search engines store it) so scoring touches
                 NO second corpus-sized table.
      doclen/    (doc_id, dl)           fold bookkeeping: the per-doc
                 token totals, read only by maintenance (replacement
                 deltas for stats/), never by queries.
      stats/     (metric, value)        n_docs + total_tokens as longs,
                 folded by exact integer deltas — queries read corpus
                 stats from 2 rows instead of scanning doclen.

    query:  ``bm25_from_index`` filters stored postings to the query's
            terms (pushed IN + CLUSTER BY tok file skipping — the only
            corpus-sized read, pruned to ~|terms| files), derives
            per-term df by counting the rows it already read (a separate
            df/ table would save nothing: the postings slice must be
            read for scoring anyway), broadcasts the |terms|-row df and
            the 2-row stats, and evaluates the EXACT floating-point
            expression shapes of the one-shot query — so the stored-index
            path hash-matches the same DuckDB oracle. With pending folds
            the scan is base ∪ delta partitions (merge-on-read, newest
            delta wins per doc — ``lake.read_current_with_deltas``); the
            tok IN-filter pushes into base AND delta scans alike.
    fold:   ``update_text_index`` absorbs a document batch. Postings fold
            as an APPENDED DELTA PARTITION (round 9 — previously a
            copy-on-write rewrite whose cost grew with INDEX size, the
            round-8 verdict's #1 production gap): O(batch) write, base
            untouched, whole-document replacement semantics preserved by
            the merge-on-read reader — tokens a replaced doc LOST still
            disappear, because the doc's entire posting set reads from
            its newest delta only. doclen stays copy-on-write (doc-count-
            sized, two orders below postings) and stats/ re-derives from
            the committed doclen (crash-consistent pure function — the
            round-10 pin). Deltas merge into the base
            at the existing compaction cadence (``compact_text_index`` →
            ``lake.flatten_deltas``). CONVERGENCE: fold == rebuild — the
            EFFECTIVE postings content is bit-identical to a from-scratch
            build (tokenization is row-local and df is derived at query
            time, so there is no frozen-cap drift like the dedup index's
            hot list), and after flatten the PHYSICAL base is too —
            pinned in tests/test_text_index.py.

Reference anchor: none — the reference (a Postgres copy tool) has no
retrieval surface; this is the north-star curation path ("give me the
docs about X" over a 100 TB corpus) promised by functions/text.py:896.

Scale shape: build is one token explode + one (doc,tok) aggregate + one
range exchange on tok. A query moves |query terms| files of postings,
two broadcast maps, and one |candidate docs| aggregate — the corpus is
read zero times. Fold cost is O(batch) — one delta append plus the
doc-count-sized doclen rewrite — independent of index size (measured in
SCALE.md round 9: same batch folded into a 1×/2×/4× index at
near-constant cost); the deferred merge cost lands on the compaction
cadence where every family already pays it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pgcp_spark.functions.text import (
    BM25_B,
    BM25_K1,
    BM25_ORACLE,
    BM25_QUERY,
    BM25_TOP,
)
from pgcp_spark.indexes import loop
from pgcp_spark.plans.materialize import materialize
from pgcp_spark.registry import register
from pgcp_spark.sources import load_table_parallel
from pgcp_spark.sources.lake import (
    append_delta,
    delta_names,
    flatten_deltas,
    read_current,
    read_current_with_deltas,
    write_snapshot,
)

TEXT_INDEX_ROOT = os.environ.get(
    "SPARK_GRAFT_TEXT_INDEX_ROOT", "/tmp/pgcp_text_index"
)
_SUBTABLES = ("postings", "doclen", "stats")

# parallelism floor for the postings layout, same discipline as the ANN
# vectors table: AQE byte-sizes the range exchange, and a small-but-hot
# index compacted to one file would bound every query's scan at one task
_POSTINGS_ROWS_PER_FILE = 5_000_000


def text_index_dir_for(sf_dir: str) -> str:
    """Content-version-keyed index dir (shared harness discipline)."""
    return loop.content_version_dir(
        TEXT_INDEX_ROOT, sf_dir, "documents.parquet", salt="format:v1:bm25"
    )


def doc_terms(docs: DataFrame) -> DataFrame:
    """(doc_id, tok, n, dl): term frequencies + inline doc length, the
    postings-row shape. The tokenizer is BM25's exactly
    (functions/text.py): lowercase, collapse runs of spaces, split on
    single spaces — shared definition, so stored and fresh postings are
    bit-identical.

    NULL-doc_id rows are quarantined HERE, at the ingest seam: the
    index is keyed on doc_id, and a NULL key can never be replaced or
    deleted — the fold/removal anti-joins never match NULL (ANSI join
    semantics), so a NULL pseudo-doc would duplicate on every re-fold
    and double-count in stats, breaking fold == rebuild bit-exactness.
    A document without an identity is not indexable; filtering it
    row-locally keeps every downstream invariant unconditional."""
    docs = docs.filter(F.col("doc_id").isNotNull())
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.regexp_replace(F.lower("text"), " +", " ")), " ")
        ).alias("tok"),
    )
    dt = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("n"))
    dl = F.sum("n").over(Window.partitionBy("doc_id"))
    return dt.withColumn("dl", dl)


def _postings_files(spark: SparkSession, n_rows: int) -> int:
    return max(
        spark.sparkContext.defaultParallelism,
        -(-n_rows // _POSTINGS_ROWS_PER_FILE),
    )


def _write_tables(
    spark: SparkSession,
    index_dir: str,
    postings: DataFrame,
    stats_meta: dict | None = None,
) -> None:
    """Commit postings (CLUSTER BY tok), doclen, and stats from one
    postings-shaped frame. Stats derive from the COMMITTED doclen (read
    back, one tiny agg — the zero-recompute discipline every family
    uses), so the three tables can never disagree. ``stats_meta`` rides
    the stats commit — the CDC-driven callers stamp their consumed
    documents state AT BUILD TIME here (r13 wave 6) instead of paying a
    second stats commit (doclen re-read + re-write) just to attach it."""
    from pgcp_spark.plans.overlap import overlap

    postings = materialize(postings)
    n_rows = postings.count()
    overlap(  # postings and doclen are independent tables over the same
        # checkpointed frame (§2.6); stats reads the COMMITTED doclen, so
        # it stays strictly after the join
        lambda: write_snapshot(
            postings.select("tok", "doc_id", "n", "dl"),
            os.path.join(index_dir, "postings"),
            cluster_by=["tok"],
            cluster_files=_postings_files(spark, n_rows),
        ),
        lambda: write_snapshot(
            postings.select("doc_id", "dl").distinct(),
            os.path.join(index_dir, "doclen"),
            cluster_by=["doc_id"],
        ),
    )
    _write_stats_from_doclen(spark, index_dir, meta=stats_meta)


def _write_stats_from_doclen(
    spark: SparkSession, index_dir: str, meta: dict | None = None
) -> None:
    """Commit stats/ as a pure function of the COMMITTED doclen (one
    doc-count-sized aggregate). Every stats write in this module goes
    through here: build, fold, and remove — so the three tables can
    never disagree beyond the documented crash window, and replaying
    any maintenance step after a mid-sequence crash converges (the
    round-10 crash-consistency pin). ``meta`` rides the commit — the
    CDC-driven fold (round 12) stamps the consumed documents state here,
    on the index's LAST-committed table."""
    stored_dl = read_current(spark, os.path.join(index_dir, "doclen"))
    row = stored_dl.agg(
        F.count("*").alias("n_docs"), F.coalesce(F.sum("dl"), F.lit(0)).alias("tot")
    ).collect()[0]
    write_snapshot(
        spark.createDataFrame(
            [("n_docs", int(row.n_docs)), ("total_tokens", int(row.tot))],
            "metric string, value long",
        ),
        os.path.join(index_dir, "stats"),
        meta=meta,
    )


def build_text_index_from(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    stats_meta: dict | None = None,
) -> None:
    """Build + commit the inverted index from a documents-shaped frame.
    ``stats_meta`` stamps the stats commit (see ``_write_tables``)."""
    _write_tables(spark, index_dir, doc_terms(docs), stats_meta=stats_meta)


def build_text_index(spark: SparkSession, sf_dir: str, index_dir: str) -> None:
    """Registered-query entry: build from the FULL documents table (the
    retrieval surface answers over the whole corpus, unlike the
    batch-vs-corpus dedup/ANN splits)."""
    build_text_index_from(
        spark, load_table_parallel(spark, sf_dir, "documents"), index_dir
    )


def ensure_text_index(spark: SparkSession, sf_dir: str) -> str:
    """Build iff this corpus version has no index yet; return its dir."""
    index_dir = text_index_dir_for(sf_dir)
    return loop.ensure_built(
        index_dir, _SUBTABLES, lambda: build_text_index(spark, sf_dir, index_dir)
    )


def stored_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    """The effective postings: base snapshot ∪ pending fold deltas,
    newest delta winning per doc (merge-on-read — module docstring).
    With no pending folds this is exactly the base read, so the
    registered build-once-query-many path pays nothing for the layer."""
    return read_current_with_deltas(
        spark, os.path.join(index_dir, "postings"), key=["doc_id"]
    )


def update_text_index(
    spark: SparkSession,
    batch_docs: DataFrame,
    index_dir: str,
    meta: dict | None = None,
    write_stats: bool = True,
) -> None:
    """Fold a document batch into the stored index (the daily ingest
    step). Whole-document replacement semantics: a batch doc's ENTIRE
    posting set is served from this (newest) delta, so tokens a
    re-ingested doc lost disappear — which a keyed MERGE could not
    express; new docs simply add rows. The postings fold is an APPENDED
    DELTA (O(batch); the corpus-sized base is not read, let alone
    rewritten); doclen stays copy-on-write (doc-count-sized) and stats/
    re-derives from the COMMITTED doclen (one doc-count-sized aggregate
    — the same zero-recompute discipline as ``_write_tables``).

    CRASH CONSISTENCY (round-10 pin, tests/test_text_index.py): the
    postings delta and doclen rewrite commit concurrently (r14 — each
    atomic alone, order immaterial: no serve path reads doclen), stats
    strictly last. A crash between commits leaves a documented
    reader-visible skew — new postings scored with the old
    n_docs/avgdl — never an error, and AT-LEAST-ONCE REPLAY of the
    batch converges bit-exactly with an uninterrupted fold: the
    postings re-append shadows its twin (newest delta wins), the doclen
    rewrite is idempotent (anti-join + union is a pure function of
    pre-crash doclen + batch), and stats is a pure function of the
    committed doclen — which is exactly why stats derives from doclen
    instead of folding integer deltas: a delta fold replayed AFTER the
    doclen commit would double-subtract the displaced docs and diverge
    permanently.

    Replay-idempotent: re-folding the same batch appends a delta whose
    rows shadow the previous delta's identical rows. Fold == rebuild on
    effective content (module docstring; pinned in tests).

    ``write_stats=False`` skips the trailing stats commit — for a caller
    that IMMEDIATELY performs another doclen-mutating step ending in its
    own ``_write_stats_from_doclen`` (the CDC fold's upsert-then-remove
    sequence, r13 wave 6): the intermediate stats commit was a full
    doclen re-read + snapshot write that the very next step superseded.
    The crash window this widens is the already-documented one — stats
    (and its watermark) stay at their PRE-fold state until the final
    commit, so an interrupted sequence replays the whole diff and
    converges exactly as the at-least-once contract above argues."""
    from pgcp_spark.plans.overlap import overlap

    batch_pt = materialize(doc_terms(batch_docs))
    ids = batch_pt.select("doc_id").distinct()

    doclen_dir = os.path.join(index_dir, "doclen")
    kept_dl = read_current(spark, doclen_dir).join(
        F.broadcast(ids), "doc_id", "left_anti"
    )
    # postings delta and doclen rewrite run CONCURRENTLY (r14, §2.6 —
    # the same argument as the build path's _write_tables overlap): they
    # are independent tables over the same checkpointed frame, no serve
    # path reads doclen directly (postings rows carry their own dl;
    # stats is the doclen digest and still commits strictly LAST), so
    # the only reader-visible mid-fold state remains the documented skew
    # — new postings scored with old stats — whichever write lands first.
    overlap(
        # the O(batch) append — clustered on tok so footer pruning works
        # inside the delta exactly as in the base
        lambda: append_delta(
            batch_pt.select("tok", "doc_id", "n", "dl"),
            os.path.join(index_dir, "postings"),
            cluster_by=["tok"],
        ),
        lambda: write_snapshot(
            kept_dl.unionByName(batch_pt.select("doc_id", "dl").distinct()),
            doclen_dir,
            cluster_by=["doc_id"],
        ),
    )
    if write_stats:
        _write_stats_from_doclen(spark, index_dir, meta=meta)


def remove_from_text_index(
    spark: SparkSession,
    ids: DataFrame,
    index_dir: str,
    meta: dict | None = None,
) -> None:
    """Retention/GDPR delete PROPAGATION: drop every trace of ``ids``
    (single column ``doc_id``) from the stored index. A corpus delete
    that skips this step leaves the deleted documents DISCOVERABLE — the
    postings still rank them — which is the quiet failure mode of every
    search system bolted onto a mutable lake; with ``lake.delete`` in
    the writer surface (round 8), index families must honor it too.

    The postings delete lands as an O(keys) TOMBSTONE DELTA
    (``lake.delete_delta``, round 10 — previously flatten + a keyed
    copy-on-write rewrite whose cost grew with INDEX size, the exact
    asymmetry round 9 removed from the fold side): the corpus-sized
    postings table is not read, the merge-on-read reader drops every
    posting row whose doc matches, and rows hiding in un-merged fold
    deltas die too (tombstones version AGAINST data deltas in the one
    commit log — a doc folded at seq i and tombstoned at seq j > i is
    gone). The physical reclaim — the "truly gone" half of the GDPR
    contract — happens at the next ``compact_text_index`` flatten, the
    same deferred-merge cost model as the fold. doclen stays
    copy-on-write (doc-count-sized) and stats/ re-derives from the
    COMMITTED doclen — a pure function, so a crash between the doclen
    delete and the stats commit repairs under at-least-once replay
    (the fold's crash-consistency contract; an integer-subtraction fold
    replayed after the doclen commit would see the ids already gone,
    subtract zero, and leave stats stale forever).

    CONVERGENCE: remove == rebuild-on-retained on EFFECTIVE content
    (tokenization is row-local, df derives at query time — same argument
    as fold == rebuild), and BIT-EXACTLY on the physical base after
    flatten; both pinned in tests. Removing absent ids is a no-op, so
    at-least-once replay converges."""
    from pgcp_spark.sources.lake import delete, delete_delta

    from pgcp_spark.plans.overlap import overlap

    ids = materialize(ids.select("doc_id").distinct())
    doclen_dir = os.path.join(index_dir, "doclen")
    # tombstone and doclen delete run CONCURRENTLY (r14, §2.6 — the
    # update_text_index argument: independent tables, doclen unread by
    # serve paths, stats still strictly last with the watermark)
    overlap(
        lambda: delete_delta(
            ids, os.path.join(index_dir, "postings"), key=["doc_id"]
        ),
        lambda: delete(
            spark, doclen_dir, keys=ids, key=["doc_id"],
            cluster_by=["doc_id"],
        ),
    )
    _write_stats_from_doclen(spark, index_dir, meta=meta)


def _apply_cdc_to_text_index(
    spark: SparkSession,
    ups: DataFrame,
    del_ids: DataFrame,
    index_dir: str,
    meta: dict | None = None,
) -> None:
    """One MIXED CDC batch (re-texted/inserted docs AND deleted ids)
    applied to the stored index with the fold's commits FUSED (r14,
    guide §1.2/§2.6 — VERDICT item 6): the r13 shape ran
    ``update_text_index`` then ``remove_from_text_index``, paying TWO
    doclen copy-on-write commits (the remove's superseding the update's
    minutes-old one) and serializing four writes. The batch is key-unique
    (the ``merge_cdc_delta`` contract), so the upserted and deleted doc
    sets are DISJOINT and the three data writes commute:

      - postings data delta (the batch docs' whole posting sets, newest
        delta wins) ∥ postings tombstone (deleted ids kill every older
        write) — disjoint ids make their log order immaterial, the
        merge_cdc_delta argument verbatim;
      - ONE fused doclen copy-on-write: (doclen ∖ (up_ids ∪ del_ids)) ∪
        batch doclens — equal to the sequential pair because the two id
        sets are disjoint;

    then stats commits LAST as a pure function of the committed doclen,
    carrying the watermark. CRASH WINDOW: identical to the r13
    single-stats-commit contract — stats (and the watermark) stay at
    their pre-fold state until the final commit, so an interrupted fold
    replays the whole diff and converges (re-appended postings shadow
    their twins, the tombstone re-kills, the fused doclen rewrite is a
    pure function of pre-crash doclen + batch, stats derives from
    committed doclen). A reader mid-fold sees the documented skew only
    (new postings scored with old stats); doclen committing before the
    postings delta is reader-invisible — no serve path reads doclen
    (postings rows carry their own dl; stats is the doclen digest)."""
    from pgcp_spark.plans.overlap import overlap
    from pgcp_spark.sources.lake import delete_delta

    batch_pt = materialize(doc_terms(ups))
    del_ids = materialize(del_ids.select("doc_id").distinct())
    postings_dir = os.path.join(index_dir, "postings")
    doclen_dir = os.path.join(index_dir, "doclen")
    touched = batch_pt.select("doc_id").distinct().unionByName(del_ids)
    kept_dl = read_current(spark, doclen_dir).join(
        F.broadcast(touched), "doc_id", "left_anti"
    )
    new_dl = kept_dl.unionByName(batch_pt.select("doc_id", "dl").distinct())
    overlap(
        lambda: append_delta(
            batch_pt.select("tok", "doc_id", "n", "dl"),
            postings_dir,
            cluster_by=["tok"],
        ),
        lambda: delete_delta(del_ids, postings_dir, key=["doc_id"]),
        lambda: write_snapshot(
            new_dl, doclen_dir, cluster_by=["doc_id"]
        ),
    )
    _write_stats_from_doclen(spark, index_dir, meta=meta)


def compact_text_index(
    spark: SparkSession, index_dir: str, target_file_bytes: int = 128 * 1024 * 1024
) -> None:
    """OPTIMIZE via the shared harness: pending fold deltas merge into
    the postings base first (``flatten_deltas`` — the deferred half of
    the O(batch) fold cost, paid here on the cadence), then postings
    re-range on tok (a plain file merge would smear tok ranges across
    files and erode the query-time skipping), doclen on doc_id. Readers
    mid-query keep their files for the lake's reader grace."""
    flatten_deltas(
        spark,
        os.path.join(index_dir, "postings"),
        key=["doc_id"],
        cluster_by=["tok"],
        cluster_files=spark.sparkContext.defaultParallelism,
    )
    loop.compact_tables(
        spark,
        index_dir,
        _SUBTABLES,
        target_file_bytes=target_file_bytes,
        per_table={
            "postings": {
                "cluster_by": ["tok"],
                "min_files": spark.sparkContext.defaultParallelism,
            },
            "doclen": {"cluster_by": ["doc_id"]},
        },
    )


def bm25_from_index(
    spark: SparkSession,
    index_dir: str,
    query_terms=BM25_QUERY,
    top_k: int = BM25_TOP,
) -> DataFrame:
    """Top-k BM25 over the STORED index (``bm25_over_frames`` on the
    current postings + stats reads). The empty-term guard stays BEFORE
    the storage reads (review fix): an empty query on a missing or
    GC'd index must return the empty frame, not raise from snapshot
    resolution — the documented graceful degradation."""
    if not query_terms:
        return spark.createDataFrame([], "doc_id long, score double, rnk int")
    return bm25_over_frames(
        spark,
        stored_postings(spark, index_dir),
        read_current(spark, os.path.join(index_dir, "stats")),
        query_terms,
        top_k,
    )


def bm25_over_frames(
    spark: SparkSession,
    postings: DataFrame,
    stats_df: DataFrame,
    query_terms=BM25_QUERY,
    top_k: int = BM25_TOP,
) -> DataFrame:
    """Top-k BM25 over POSTINGS/STATS FRAMES: read only the query terms'
    postings files, score with the one-shot query's exact expression
    shapes (same idf/tf association order, same 1e-6 rounding, same
    DECIMAL(18,6) order-independent sum, same doc_id tie-break), so the
    result is bit-identical to re-ranking from scratch — and hash-exact
    against the same DuckDB oracle. Frame-parameterized (round 13, the
    ``serve_agg`` discipline) so manifest-pinned group reads
    (``txn.read_group``) serve the identical shape. An empty term list
    returns an empty result (no ``isin()`` with zero arguments — the
    same graceful degradation as the empty-corpus path)."""
    if not query_terms:
        return spark.createDataFrame([], "doc_id long, score double, rnk int")
    stats_rows = {r.metric: r.value for r in stats_df.collect()}
    n_docs = int(stats_rows["n_docs"])
    total = int(stats_rows["total_tokens"])
    qterms = postings.filter(F.col("tok").isin(*query_terms))
    qdf = qterms.groupBy("tok").agg(F.count("*").alias("df"))
    # the one-row stats frame rides a broadcast nested-loop like the
    # one-shot query's (no driver-side float math: the division happens
    # in the SAME JVM expression tree on both paths)
    stats = spark.createDataFrame([(n_docs, total)], "n_docs long, total long")
    avgdl = F.col("total").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_w = (F.col("n") * F.lit(BM25_K1 + 1.0)) / (
        F.col("n")
        + F.lit(BM25_K1) * (F.lit(1 - BM25_B) + F.lit(BM25_B) * F.col("dl") / avgdl)
    )
    w = (
        qterms.join(F.broadcast(qdf), "tok")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(idf * tf_w, 6).cast("decimal(18,6)").alias("wgt"))
    )
    scored = w.groupBy("doc_id").agg(F.sum("wgt").cast("double").alias("score"))
    topk = scored.orderBy(F.desc("score"), "doc_id").limit(top_k)
    rnk = F.row_number().over(Window.orderBy(F.desc("score"), "doc_id"))
    return topk.withColumn("rnk", rnk).select("doc_id", "score", "rnk").orderBy("rnk")


@register(
    "text_bm25_topk_from_index",
    # the SAME oracle as the one-shot query (imported, not copied): the
    # stored-artifact path must hash-match the from-scratch computation
    oracle=BM25_ORACLE,
    doc="BM25 top-k served from the persisted inverted index (postings CLUSTER BY tok, inline doc lengths, folded stats) — same oracle as the one-shot query",
)
def text_bm25_topk_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{BM25_TOP} for the fixed keyword query, answered FROM the
    lake-persisted inverted index (built once per corpus version via the
    shared harness, reused untouched across runs): the corpus is
    re-tokenized zero times per query, and the postings scan touches only
    the query terms' files (pushed IN + CLUSTER BY tok min/max skipping).
    Hash-exact against the SAME oracle as the one-shot query — the
    stored-artifact path provably loses nothing."""
    index_dir = ensure_text_index(spark, sf_dir)
    return bm25_from_index(spark, index_dir)


# the slice re-ingested (with changed text) by the registered delta-fold
# query: every %5 doc gets one appended token
DELTA_FOLD_MOD = 5

_DELTA_FOLD_ORACLE = BM25_ORACLE.replace(
    "FROM documents",
    f"""FROM (
    SELECT doc_id,
           CASE WHEN doc_id % {DELTA_FOLD_MOD} = 0
                THEN text || ' reindexed' ELSE text END AS text
    FROM documents
  )""",
)


@register(
    "text_bm25_topk_index_delta_fold",
    # the one-shot oracle over the POST-FOLD corpus: a hash match proves
    # the merge-on-read path (base ∪ delta, newest-delta-wins, folded
    # stats) loses nothing vs recomputing from scratch on the new corpus
    oracle=_DELTA_FOLD_ORACLE,
    doc="BM25 top-k served across an UN-MERGED fold delta: the %5 slice re-ingested with changed text as an O(batch) appended delta partition, query reads base ∪ delta — hash-exact vs the one-shot oracle on the post-fold corpus",
)
def text_bm25_topk_index_delta_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ingest loop's steady state, queried MID-CADENCE:
    a batch (every %5 doc, with ' reindexed' appended to its text) is
    folded as an appended delta partition — the O(batch) fold the round-8
    verdict named as gap #1, replacing the whole-table rewrite — and the
    ranked query runs BEFORE any compaction merges it. The oracle
    recomputes BM25 from scratch on the post-fold corpus, so a hash match
    proves the merge-on-read read path is complete: replaced docs score
    on their NEW text only (old postings shadowed), df and corpus stats
    shift exactly, and untouched docs still read from the base. The
    shared per-corpus index is copied first (a registered query must not
    mutate shared state — same discipline as the retention query)."""
    seed = ensure_text_index(spark, sf_dir)
    work = loop.copy_index(seed, _SUBTABLES, "pgcp_text_deltafold_")
    import shutil

    try:
        docs = load_table_parallel(spark, sf_dir, "documents")
        batch = docs.filter(F.col("doc_id") % DELTA_FOLD_MOD == 0).select(
            "doc_id", F.concat(F.col("text"), F.lit(" reindexed")).alias("text")
        )
        update_text_index(spark, batch, work)
        # explicit raise, not assert: the delta-landing guard must hold
        # under ``python -O`` too (round-9 advisory)
        if not delta_names(os.path.join(work, "postings")):
            raise RuntimeError("fold must land as a delta, not a base rewrite")
        result = materialize(bm25_from_index(spark, work))
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    loop.reclaim_by_mode(work)
    return result


# the retention slice removed by the registered delete-propagation query
RETENTION_MOD = 7

_RETENTION_ORACLE = BM25_ORACLE.replace(
    "FROM documents",
    f"FROM (SELECT * FROM documents WHERE doc_id % {RETENTION_MOD} <> 0)",
)


@register(
    "text_bm25_after_retention_delete",
    # the one-shot oracle over the RETAINED corpus: a hash match proves
    # the removal left no trace — scores, ranks, df and corpus stats all
    # behave as if the deleted docs never existed
    oracle=_RETENTION_ORACLE,
    doc="GDPR/retention delete propagated through the persisted BM25 index: remove the %7 slice from the stored postings/doclen/stats, query from the index — hash-exact vs the one-shot oracle on the retained corpus",
)
def text_bm25_after_retention_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention pipeline, end to end on the stored artifact: the
    shared per-corpus index is copied (a registered query must not
    mutate shared state — same discipline as the ingest loops),
    ``remove_from_text_index`` drops the ``doc_id % 7 == 0`` slice, and
    the SAME ranked-retrieval query runs against what remains. The
    oracle recomputes BM25 from scratch on the retained corpus, so a
    hash match proves deletion propagation is COMPLETE: document
    frequencies, corpus stats (n_docs, avgdl) and therefore every
    surviving score shift exactly as if the deleted docs had never been
    ingested — not merely that the deleted ids vanish from the top-k."""
    seed = ensure_text_index(spark, sf_dir)
    work = loop.copy_index(seed, _SUBTABLES, "pgcp_text_retention_")
    import shutil

    try:
        docs = load_table_parallel(spark, sf_dir, "documents")
        remove_from_text_index(
            spark,
            docs.filter(F.col("doc_id") % RETENTION_MOD == 0).select("doc_id"),
            work,
        )
        # the delete must land as an O(keys) tombstone delta, not a
        # copy-on-write rewrite (round 10 — the fold guard's twin)
        if not delta_names(os.path.join(work, "postings")):
            raise RuntimeError("delete must land as a tombstone delta")
        result = materialize(bm25_from_index(spark, work))
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    loop.reclaim_by_mode(work)
    return result


# ---------------------------------------------------------------------------
# Multi-query batch retrieval: N curation queries, ONE postings scan
# ---------------------------------------------------------------------------

# The fixed query table for the registered op. Real curation runs
# thousands of these at once ("pull topical slices for every training
# mix topic"); the point of the batch shape is that the postings scan is
# amortized across ALL of them.
BATCH_QUERIES: dict[str, tuple[str, ...]] = {
    "q_exec": ("vector", "join", "scan"),  # == the single-query op's terms
    "q_plan": ("filter", "shuffle", "sort"),
    "q_store": ("hash", "merge", "stream"),
}
BATCH_TOP = 10


def bm25_multi_query_from_index(
    spark: SparkSession,
    index_dir: str,
    queries: dict[str, tuple[str, ...]] | None = None,
    top_k: int = BATCH_TOP,
) -> DataFrame:
    """Top-``top_k`` docs for EVERY query in ``queries``, served from the
    stored index with ONE postings read: the scan filters tok to the
    UNION of all queries' terms (still a pushed IN + CLUSTER BY tok file
    skip — the union is small), per-term df is counted once and shared
    by every query that uses the term (df is a corpus property, not a
    query property), and a broadcast (qid, tok) map fans each surviving
    postings row out to only the queries containing its term. Weights
    and rounding are the single-query op's exactly, so each qid's block
    is bit-identical to running that query alone — the batch shape
    changes the SCAN ECONOMICS (1 read serves N queries), never the
    answers (pinned in tests/test_text_index.py).

    Scale: at Q queries the per-row fan-out is bounded by how many
    queries share a term (≤ Q, typically ~1); everything downstream of
    the scan is candidate-sized per query. This is the shape that makes
    thousand-topic curation a single job instead of a thousand scans.
    """
    queries = BATCH_QUERIES if queries is None else queries
    all_terms = sorted({t for ts in queries.values() for t in ts})
    if not all_terms:  # no queries, or all term lists empty: no isin(0 args)
        return spark.createDataFrame(
            [], "qid string, doc_id long, score double, rnk int"
        )
    qmap = spark.createDataFrame(
        [(qid, t) for qid, ts in sorted(queries.items()) for t in ts],
        "qid string, tok string",
    )
    stats_rows = {
        r.metric: r.value
        for r in read_current(spark, os.path.join(index_dir, "stats")).collect()
    }
    n_docs = int(stats_rows["n_docs"])
    total = int(stats_rows["total_tokens"])
    hits = stored_postings(spark, index_dir).filter(
        F.col("tok").isin(*all_terms)
    )
    # per-TERM df, computed once over the union scan and shared across
    # queries — identical value to the single-query op's df by definition
    tdf = hits.groupBy("tok").agg(F.count("*").alias("df"))
    stats = spark.createDataFrame([(n_docs, total)], "n_docs long, total long")
    avgdl = F.col("total").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_w = (F.col("n") * F.lit(BM25_K1 + 1.0)) / (
        F.col("n")
        + F.lit(BM25_K1) * (F.lit(1 - BM25_B) + F.lit(BM25_B) * F.col("dl") / avgdl)
    )
    w = (
        hits.join(F.broadcast(tdf), "tok")
        .join(F.broadcast(qmap), "tok")  # fan out to owning queries only
        .crossJoin(F.broadcast(stats))
        .select(
            "qid", "doc_id", F.round(idf * tf_w, 6).cast("decimal(18,6)").alias("wgt")
        )
    )
    scored = w.groupBy("qid", "doc_id").agg(F.sum("wgt").cast("double").alias("score"))
    rnk = F.row_number().over(
        Window.partitionBy("qid").orderBy(F.desc("score"), "doc_id")
    )
    return (
        scored.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= top_k)
        .select("qid", "doc_id", "score", "rnk")
        .orderBy("qid", "rnk")
    )


def _one_query_oracle_block(qid: str, terms: tuple[str, ...]) -> str:
    terms_sql = "', '".join(terms)
    return f"""
SELECT '{qid}' AS qid, doc_id, score, CAST(rnk AS INT) AS rnk FROM (
  SELECT doc_id, CAST(SUM(wgt) AS DOUBLE) AS score,
         ROW_NUMBER() OVER (ORDER BY CAST(SUM(wgt) AS DOUBLE) DESC, doc_id) AS rnk
  FROM (
    SELECT t.doc_id,
           CAST(ROUND(
             ln(1 + (CAST(s.n_docs AS DOUBLE) - q.df + 0.5) / (CAST(q.df AS DOUBLE) + 0.5)) *
             ((t.n * CAST(2.2 AS DOUBLE)) /
              (t.n + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * d.dl / (CAST(s.total AS DOUBLE) / s.n_docs)))),
             6) AS DECIMAL(18,6)) AS wgt
    FROM doc_term t
    JOIN (SELECT tok, COUNT(*) AS df FROM doc_term WHERE tok IN ('{terms_sql}') GROUP BY tok) q
      ON t.tok = q.tok
    JOIN dl d ON t.doc_id = d.doc_id
    CROSS JOIN stats s
  ) GROUP BY doc_id
) WHERE rnk <= {BATCH_TOP}
"""


# the shared corpus CTEs every multi-query oracle starts from (also
# consumed by the multi-query HYBRID oracle in functions/retrieval.py)
CORPUS_CTES = """
toks AS (
  SELECT doc_id, UNNEST(string_split(trim(regexp_replace(lower(text), ' +', ' ', 'g')), ' ')) AS tok
  FROM documents
),
doc_term AS (SELECT doc_id, tok, COUNT(*) AS n FROM toks GROUP BY doc_id, tok),
dl AS (SELECT doc_id, SUM(n) AS dl FROM doc_term GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total FROM dl)
"""

_MULTI_ORACLE = (
    "\nWITH "
    + CORPUS_CTES
    + "\nUNION ALL\n".join(
        _one_query_oracle_block(qid, ts) for qid, ts in sorted(BATCH_QUERIES.items())
    )
    + "\nORDER BY qid, rnk\n"
)


@register(
    "text_bm25_multi_query_topk",
    oracle=_MULTI_ORACLE,
    doc="multi-query batch retrieval from the persisted index: 3 curation queries answered in ONE postings scan (union IN + per-query broadcast fan-out); each qid block bit-identical to running that query alone — oracle is the per-query BM25 unioned",
)
def text_bm25_multi_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch retrieval (docstring of ``bm25_multi_query_from_index``):
    the production many-topics-one-scan shape, hash-checked against the
    per-query oracle union."""
    index_dir = ensure_text_index(spark, sf_dir)
    return bm25_multi_query_from_index(spark, index_dir)


# ---------------------------------------------------------------------------
# CDC-driven maintenance (round 12): the index fold consuming the
# documents LAKE TABLE's state diff instead of explicit batches — proving
# the `state_changes` primitive composes with the index loops exactly as
# it does with the cascade aggregate. The watermark protocol is the
# cascade's own (`lake.unapplied_changes`, with `applied_docs_state`
# stamped into the stats table's commit meta — the index's LAST-committed
# table), but unlike the signed aggregate fold this one tolerates
# AT-LEAST-ONCE replay of a diff: the posting fold's shadow deltas and the
# remove's absent-id no-op are both replay-convergent, so a crash between
# the constituent folds and the stamp re-folds the same diff and
# converges — the watermark here buys O(batch) incrementality (never
# re-reading old diffs), not correctness.
# ---------------------------------------------------------------------------


def fold_text_index_from_docs_state(
    spark: SparkSession, docs_dir: str, index_dir: str
) -> bool:
    """Fold the documents lake's changes SINCE THE LAST FOLD into the
    stored BM25 index: inserts/postimages re-ingest through
    ``update_text_index`` (whole-document replacement), deletes propagate
    through ``remove_from_text_index`` (tombstone deltas), and the
    consumed ``pending_state`` stamps into the stats commit. Returns
    False on an already-applied state or an empty diff; raises on a
    missing or GC'd watermark (the cascade fold's refuse contract —
    rebuild from the lake or re-stamp after a flatten)."""
    from pgcp_spark.sources.lake import unapplied_changes

    got = unapplied_changes(
        spark, docs_dir, os.path.join(index_dir, "stats"), ["doc_id"],
        "applied_docs_state",
    )
    if got is None:
        return False
    state, feed = got
    meta = {"applied_docs_state": state}
    # ONE change-type presence probe over the checkpointed feed (r14)
    # replaces the two isEmpty jobs the r13 shape paid
    present = {
        r[0] for r in feed.select("_change_type").distinct().collect()
    }
    have_ups = bool(present & {"insert", "update_postimage"})
    have_dels = "delete" in present
    ups = feed.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select("doc_id", "text")
    dels = feed.filter(F.col("_change_type") == "delete").select("doc_id")
    if not (have_ups or have_dels):
        # state moved without row changes (shadow deltas): stamp so the
        # next fold diffs from here instead of re-walking this window
        _write_stats_from_doclen(spark, index_dir, meta=meta)
        return False
    if have_ups and have_dels:
        # mixed diff: the FUSED apply — one doclen commit, overlapped
        # postings writes, stats last with the watermark; crash window
        # argued at _apply_cdc_to_text_index (identical to the r13
        # single-stats-commit contract)
        _apply_cdc_to_text_index(
            spark, ups, dels, index_dir, meta=meta
        )
    elif have_ups:
        update_text_index(spark, ups, index_dir, meta=meta)
    else:
        remove_from_text_index(spark, dels, index_dir, meta=meta)
    return True


# the CDC scenario's slices mirror the repo's standard orders shapes:
# base = %3≠0 docs; upsert %5 (re-text, with %15 keys being genuine
# INSERTS — outside the base); delete non-%5 %7 keys
_CDC_ORACLE = BM25_ORACLE.replace(
    "FROM documents",
    """FROM (
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN text || ' reindexed' ELSE text END
             AS text
    FROM documents
    WHERE doc_id % 5 = 0
       OR (doc_id % 3 <> 0 AND doc_id % 7 <> 0)
  )""",
)


@register(
    "text_bm25_from_docs_change_feed",
    # the one-shot oracle over the POST-CDC corpus: a hash match proves
    # the state-diff-driven maintenance is complete — replaced docs score
    # on new text only, inserted docs appear, deleted docs leave no trace
    # in scores, df, or corpus stats
    oracle=_CDC_ORACLE,
    doc=(
        "BM25 index maintained FROM the documents lake's CDC state diff: the "
        "docs table mutates merge-on-read (re-texts, inserts, deletes), the "
        "fold consumes state_changes since its stamped watermark and routes "
        "upserts/deletes through the existing index folds — hash-exact vs "
        "the one-shot oracle on the post-CDC corpus"
    ),
)
def text_bm25_from_docs_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC-composed index loop end to end: documents land in a lake
    table (base = %3≠0), the BM25 index builds from that state (stamped),
    one MOR CDC batch re-texts every %5 doc (inserting the %15 keys the
    base never had) and deletes every non-%5 %7 doc, and the index folds
    purely from the lake's state diff — never re-reading the corpus."""
    import shutil
    import tempfile

    from pgcp_spark.sources.lake import merge_cdc_delta, pending_state

    docs = load_table_parallel(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    docs_dir = tempfile.mkdtemp(prefix="pgcp_bm25_cdc_docs_")
    index_dir = tempfile.mkdtemp(prefix="pgcp_bm25_cdc_idx_")
    try:
        write_snapshot(
            docs.filter(F.col("doc_id") % 3 != 0), docs_dir
        )
        lake_docs = read_current(spark, docs_dir)
        # the watermark stamps AT build time (stats_meta) — the former
        # separate re-stamp commit re-read doclen and re-wrote stats for
        # nothing (r13 wave 6)
        build_text_index_from(
            spark, lake_docs, index_dir,
            stats_meta={"applied_docs_state": pending_state(docs_dir)},
        )
        ups = (
            docs.filter(F.col("doc_id") % 5 == 0)
            .select(
                "doc_id",
                F.concat(F.col("text"), F.lit(" reindexed")).alias("text"),
            )
            .withColumn("_op", F.lit("upsert"))
        )
        dels = (
            docs.filter(
                (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 5 != 0)
            )
            .select("doc_id", F.lit(None).cast("string").alias("text"))
            .withColumn("_op", F.lit("delete"))
        )
        merge_cdc_delta(
            spark, docs_dir, ups.unionByName(dels), key=["doc_id"]
        )
        # an EMPTY lake legitimately yields an empty diff (fold returns
        # False) — the sf0.01 oracle hash is what proves the fold ran and
        # matched on real data (the cascade query's rule); when it DID
        # fold, it must have landed as deltas, never a base rewrite
        if fold_text_index_from_docs_state(spark, docs_dir, index_dir):
            if not delta_names(os.path.join(index_dir, "postings")):
                raise RuntimeError(
                    "fold must land as deltas, not a base rewrite"
                )
        result = materialize(bm25_from_index(spark, index_dir))
    except BaseException:
        shutil.rmtree(docs_dir, ignore_errors=True)
        shutil.rmtree(index_dir, ignore_errors=True)
        raise
    loop.reclaim_by_mode(docs_dir, index_dir)
    return result


# --- corpus + index through ONE group commit (round 13) --------------------
# The CDC fold above keeps the index correct, but its commits are
# per-table: a retrieval reader between the docs lake's CDC commit and
# the index's fold commits can score against an index behind (or, mid-
# fold, ahead of) its corpus. Routing the docs commit AND the fold's
# three index commits through one ``occ_commit_group`` manifest retires
# that window the same way the fact/view/agg cascade's was: per-table
# writes land first (invisible to manifest-resolved readers), then ONE
# metadata-only publish pins the (docs, postings, doclen, stats) quartet
# — a ``read_group`` reader always scores a corpus-consistent index.

INDEX_GROUP_KEYS = {
    "docs": ["doc_id"],
    "postings": ["doc_id"],
    "doclen": ["doc_id"],
    "stats": ["metric"],
}


@register(
    "text_bm25_group_commit_with_corpus",
    # same oracle as the per-table CDC fold: a hash match proves the
    # atomic routing changes nothing about the served ranking
    oracle=_CDC_ORACLE,
    doc=(
        "BM25 CDC fold through the cross-table atomic commit: the documents "
        "lake's CDC batch and the index fold it drives publish as ONE group "
        "manifest, so retrieval never serves an index ahead of or behind its "
        "corpus (racing-reader pin in tests); same oracle as the per-table "
        "CDC fold — the hash proves the atomic routing changes nothing"
    ),
)
def text_bm25_group_commit_with_corpus(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CDC-composed index loop with corpus/index atomicity: same
    slices as ``text_bm25_from_docs_change_feed`` (base %3≠0, re-text
    %5, delete non-%5 %7), but the group dir holds docs + the three
    index tables as members, the initial build group-commits, the CDC
    batch's apply is per-table writes + ONE occ_commit_group, and the
    served ranking reads the manifest-pinned quartet."""
    import shutil
    import tempfile

    from pgcp_spark.sources.lake import merge_cdc_delta, pending_state
    from pgcp_spark.sources.txn import (
        commit_group,
        occ_commit_group,
        read_group,
        table_state,
    )

    docs = load_table_parallel(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    gdir = tempfile.mkdtemp(prefix="pgcp_bm25_grp_")
    docs_dir = os.path.join(gdir, "docs")
    members = ("docs", "postings", "doclen", "stats")
    try:
        write_snapshot(docs.filter(F.col("doc_id") % 3 != 0), docs_dir)
        lake_docs = read_current(spark, docs_dir)
        # watermark stamps at build time (stats_meta — see the CDC twin)
        build_text_index_from(
            spark, lake_docs, gdir,
            stats_meta={"applied_docs_state": pending_state(docs_dir)},
        )
        commit_group(gdir, {n: table_state(gdir, n) for n in members})
        ups = (
            docs.filter(F.col("doc_id") % 5 == 0)
            .select(
                "doc_id",
                F.concat(F.col("text"), F.lit(" reindexed")).alias("text"),
            )
            .withColumn("_op", F.lit("upsert"))
        )
        dels = (
            docs.filter(
                (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 5 != 0)
            )
            .select("doc_id", F.lit(None).cast("string").alias("text"))
            .withColumn("_op", F.lit("delete"))
        )
        merge_cdc_delta(spark, docs_dir, ups.unionByName(dels), key=["doc_id"])
        fold_text_index_from_docs_state(spark, docs_dir, gdir)
        # the publish: one metadata-only manifest replace pins the
        # corpus AND the index it drove, atomically
        occ_commit_group(
            gdir, lambda _state: {n: table_state(gdir, n) for n in members}
        )
        pinned = read_group(spark, gdir, INDEX_GROUP_KEYS)
        result = materialize(
            bm25_over_frames(spark, pinned["postings"], pinned["stats"])
        )
    except BaseException:
        shutil.rmtree(gdir, ignore_errors=True)
        raise
    loop.reclaim_by_mode(gdir)
    return result
