"""Persisted BM25 inverted index (`functions/text_index.py`): stored-path
== one-shot-path equality, fold-vs-rebuild bit-exact convergence,
whole-document replacement semantics, replay idempotence, index reuse
across runs, CLUSTER BY tok file skipping, and compaction invariance."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import pgcp_spark.functions.text_index as TI
from pgcp_spark.functions.text import BM25_QUERY, text_bm25_search_topk
from pgcp_spark.functions.text_index import (
    bm25_from_index,
    build_text_index_from,
    compact_text_index,
    ensure_text_index,
    text_bm25_topk_from_index,
    update_text_index,
)
from pgcp_spark.sources.lake import current_snapshot, read_current
from tests.conftest import SF_DIR


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def _table_rows(spark, index_dir, table):
    """EFFECTIVE table content: postings read through the merge-on-read
    view (base ∪ pending fold deltas — the content every query sees);
    doclen/stats are plain snapshot tables."""
    order = {
        "postings": ["tok", "doc_id"],
        "doclen": ["doc_id"],
        "stats": ["metric"],
    }[table]
    if table == "postings":
        return _rows(TI.stored_postings(spark, index_dir), *order)
    return _rows(read_current(spark, os.path.join(index_dir, table)), *order)


def _base_postings_rows(spark, index_dir):
    """PHYSICAL base snapshot only (no deltas) — what flatten commits."""
    return _rows(
        read_current(spark, os.path.join(index_dir, "postings")), "tok", "doc_id"
    )


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_query_from_index_equals_one_shot(spark):
    """The stored-artifact path must be bit-identical to re-ranking from
    scratch — same expression shapes, same rounding, same tie-break."""
    index_dir = ensure_text_index(spark, SF_DIR)
    got = _rows(bm25_from_index(spark, index_dir), "rnk")
    want = _rows(text_bm25_search_topk(spark, SF_DIR), "rnk")
    assert got == want and len(got) > 0


def test_index_reused_across_runs(spark):
    """Second ensure on the same corpus version rebuilds nothing (the
    registered query must be re-runnable without paying the build)."""
    index_dir = ensure_text_index(spark, SF_DIR)
    snaps = {
        t: current_snapshot(os.path.join(index_dir, t)) for t in TI._SUBTABLES
    }
    assert ensure_text_index(spark, SF_DIR) == index_dir
    assert snaps == {
        t: current_snapshot(os.path.join(index_dir, t)) for t in TI._SUBTABLES
    }
    assert text_bm25_topk_from_index(spark, SF_DIR).count() > 0


def test_fold_equals_rebuild_bit_exact(spark, tmp_path):
    """CONVERGENCE: build on 2/3 of the corpus + fold the remaining batch
    == build on everything, all three tables' EFFECTIVE content
    bit-identical (tokenization is row-local, df is derived at query
    time — no frozen-cap drift). The fold lands as an appended delta
    (O(batch), base untouched); flattening it merges the delta into the
    base, after which the PHYSICAL base is bit-identical too."""
    from pgcp_spark.sources import lake, load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)

    inc_dir, full_dir = str(tmp_path / "inc"), str(tmp_path / "full")
    build_text_index_from(spark, base, inc_dir)
    base_snap = current_snapshot(os.path.join(inc_dir, "postings"))
    update_text_index(spark, batch, inc_dir)
    # the fold was an append: one active delta, base snapshot UNTOUCHED
    assert len(lake.delta_names(os.path.join(inc_dir, "postings"))) == 1
    assert current_snapshot(os.path.join(inc_dir, "postings")) == base_snap
    build_text_index_from(spark, docs, full_dir)
    for t in TI._SUBTABLES:
        assert _table_rows(spark, inc_dir, t) == _table_rows(spark, full_dir, t), t
    # and the folded index answers the query identically to the full one
    assert _rows(bm25_from_index(spark, inc_dir), "rnk") == _rows(
        bm25_from_index(spark, full_dir), "rnk"
    )
    # flatten: delta merges into the base; physical base == full build,
    # results unchanged, delta log drained
    lake.flatten_deltas(
        spark, os.path.join(inc_dir, "postings"), key=["doc_id"],
        cluster_by=["tok"],
    )
    assert lake.delta_names(os.path.join(inc_dir, "postings")) == []
    assert _base_postings_rows(spark, inc_dir) == _base_postings_rows(
        spark, full_dir
    )
    assert _rows(bm25_from_index(spark, inc_dir), "rnk") == _rows(
        bm25_from_index(spark, full_dir), "rnk"
    )


def test_replacement_drops_lost_tokens(spark, tmp_path):
    """A re-ingested doc REPLACES its rows: tokens it lost disappear from
    the postings (a keyed MERGE alone could not express this) and the
    stats deltas are exact."""
    index_dir = str(tmp_path / "ti")
    build_text_index_from(
        spark, _docs(spark, [(1, "a b c"), (2, "a a d")]), index_dir
    )
    update_text_index(spark, _docs(spark, [(1, "a a")]), index_dir)
    assert _table_rows(spark, index_dir, "postings") == [
        ("a", 1, 2, 2),  # doc 1 replaced: 'b'/'c' gone, dl now 2
        ("a", 2, 2, 3),
        ("d", 2, 1, 3),
    ]
    assert _table_rows(spark, index_dir, "doclen") == [(1, 2), (2, 3)]
    assert _table_rows(spark, index_dir, "stats") == [
        ("n_docs", 2),
        ("total_tokens", 5),
    ]


def test_fold_replay_is_idempotent(spark, tmp_path):
    """At-least-once delivery: folding the same batch twice lands on the
    identical index (replacement of identical rows + zero stats delta)."""
    index_dir = str(tmp_path / "ti")
    build_text_index_from(spark, _docs(spark, [(1, "a b"), (2, "b c")]), index_dir)
    batch = _docs(spark, [(3, "c c d")])
    update_text_index(spark, batch, index_dir)
    once = {t: _table_rows(spark, index_dir, t) for t in TI._SUBTABLES}
    update_text_index(spark, batch, index_dir)
    assert once == {t: _table_rows(spark, index_dir, t) for t in TI._SUBTABLES}


def test_postings_cluster_by_tok_skips_files(spark):
    """The layout contract: CLUSTER BY tok range-partitions the postings,
    so the files' tok ranges are disjoint and each query term lies in at
    most one file's footer [min, max]. A query therefore reads at most
    |terms| files and skips the rest — the property that prunes a 100 TB
    postings scan to ~|terms| files. Once the layout has more than
    2·|terms| files (the parallelism floor gives that on 7+ cores for
    this 3-term query) the terms land in a strict minority of files."""
    index_dir = ensure_text_index(spark, SF_DIR)
    snap = current_snapshot(os.path.join(index_dir, "postings"))
    files = glob.glob(os.path.join(index_dir, "postings", snap, "*.parquet"))
    assert len(files) > len(BM25_QUERY)  # more files than terms: some skip
    covering = {t: 0 for t in BM25_QUERY}
    for f in files:
        md = pq.ParquetFile(f).metadata
        hit = set()
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "tok"
            lo = col.statistics.min
            hi = col.statistics.max
            hit.update(t for t in BM25_QUERY if lo <= t <= hi)
        for t in hit:
            covering[t] += 1
    assert all(n <= 1 for n in covering.values()), covering
    assert sum(covering.values()) > 0


def test_compaction_preserves_results(spark, tmp_path):
    index_dir = str(tmp_path / "ti")
    from pgcp_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    build_text_index_from(spark, docs, index_dir)
    before = _rows(bm25_from_index(spark, index_dir), "rnk")
    compact_text_index(spark, index_dir)
    assert _rows(bm25_from_index(spark, index_dir), "rnk") == before
    # reader grace: the pre-compaction snapshots are retained (keep=2)
    for t in TI._SUBTABLES:
        snaps = [
            e
            for e in os.listdir(os.path.join(index_dir, t))
            if e.startswith("snapshot_")
        ]
        assert len(snaps) == 2, t


def test_empty_corpus_builds_and_answers_empty(spark, tmp_path):
    index_dir = str(tmp_path / "ti")
    build_text_index_from(
        spark, spark.createDataFrame([], "doc_id long, text string"), index_dir
    )
    assert _table_rows(spark, index_dir, "stats") == [
        ("n_docs", 0),
        ("total_tokens", 0),
    ]
    assert bm25_from_index(spark, index_dir).count() == 0


def test_query_pushes_tok_filter_into_postings_scan(spark):
    """The docstring's pruning claim, asserted on the plan: the query
    terms' IN-filter reaches the parquet scan (PushedFilters), so the
    CLUSTER BY tok footer ranges actually get consulted at scan time
    instead of filtering post-read."""
    from pgcp_spark.plans.explain import pushed_filters

    index_dir = ensure_text_index(spark, SF_DIR)
    filters = " | ".join(pushed_filters(bm25_from_index(spark, index_dir)))
    assert "tok" in filters and "In(" in filters, filters


def test_multi_query_block_equals_single_query(spark):
    """The batch shape changes scan economics, never answers: the q_exec
    block (same terms as the single-query op, different top-k depth) must
    be the single-query ranking's prefix/extension — compare on the
    common depth. And every qid block is internally consistent."""
    from pgcp_spark.functions.text_index import (
        BATCH_QUERIES,
        BATCH_TOP,
        bm25_multi_query_from_index,
    )

    index_dir = ensure_text_index(spark, SF_DIR)
    batch = bm25_multi_query_from_index(spark, index_dir).collect()
    single = bm25_from_index(spark, index_dir).collect()
    depth = min(BATCH_TOP, len(single))
    q_exec = [(r.doc_id, r.score, r.rnk) for r in batch if r.qid == "q_exec"]
    assert q_exec == [(r.doc_id, r.score, r.rnk) for r in single[:depth]]
    by_qid = {}
    for r in batch:
        by_qid.setdefault(r.qid, []).append(r.rnk)
    assert set(by_qid) <= set(BATCH_QUERIES)
    for qid, rnks in by_qid.items():
        assert rnks == list(range(1, len(rnks) + 1)), qid


def test_multi_query_single_postings_scan(spark):
    """ONE postings read serves all queries: the physical plan contains
    exactly one scan of the postings table, with the UNION of all terms
    pushed as one IN filter."""
    from pgcp_spark.functions.text_index import bm25_multi_query_from_index
    from pgcp_spark.plans.explain import physical_plan, pushed_filters

    index_dir = ensure_text_index(spark, SF_DIR)
    df = bm25_multi_query_from_index(spark, index_dir)
    plan = physical_plan(df)
    # exactly two parquet scans — the term-pruned hits read and its df
    # aggregate's read of the same pruned postings source; NO scan of
    # documents/doclen exists (the corpus is never touched)
    scans = [ln for ln in plan.splitlines() if "Scan parquet" in ln]
    assert len(scans) == 4, scans  # 2 tree refs + 2 detail entries
    assert "postings" in plan and "documents" not in plan and "doclen" not in plan
    # every postings scan carries the pushed union-of-terms IN filter
    filters = pushed_filters(df)
    assert filters and all("tok" in f and "In(" in f for f in filters), filters


def test_empty_query_terms_returns_empty_not_error(spark):
    """ADVICE r8: isin() with zero arguments raises — an empty term list
    must degrade to an empty result like the empty-corpus path does."""
    from pgcp_spark.functions.text_index import bm25_multi_query_from_index

    index_dir = ensure_text_index(spark, SF_DIR)
    got = bm25_from_index(spark, index_dir, query_terms=())
    assert got.count() == 0
    assert got.columns == ["doc_id", "score", "rnk"]
    got_multi = bm25_multi_query_from_index(spark, index_dir, queries={})
    assert got_multi.count() == 0
    assert got_multi.columns == ["qid", "doc_id", "score", "rnk"]
    # all-empty term lists: same guard (the union of terms is empty)
    assert bm25_multi_query_from_index(spark, index_dir, queries={"q": ()}).count() == 0


def test_null_doc_id_rows_quarantined_at_ingest_seam(spark, tmp_path):
    """ADVICE r8: a NULL-doc_id row can never be replaced or deleted (the
    fold/removal anti-joins never match NULL), so doc_terms must drop it —
    otherwise re-folding the same batch duplicates the NULL pseudo-doc's
    rows and double-counts stats, breaking fold == rebuild bit-exactness."""
    index_dir = str(tmp_path / "ix")
    base = _docs(spark, [(1, "alpha beta"), (2, "beta gamma")])
    build_text_index_from(spark, base, index_dir)
    null_batch = spark.createDataFrame(
        [(None, "ghost tokens here"), (3, "delta alpha")],
        "doc_id long, text string",
    )
    update_text_index(spark, null_batch, index_dir)
    update_text_index(spark, null_batch, index_dir)  # re-fold: must converge
    rebuilt_dir = str(tmp_path / "rebuilt")
    build_text_index_from(
        spark,
        base.unionByName(null_batch.filter(F.col("doc_id").isNotNull())),
        rebuilt_dir,
    )
    for t in ("postings", "doclen", "stats"):
        assert _table_rows(spark, index_dir, t) == _table_rows(
            spark, rebuilt_dir, t
        ), t


def test_newest_delta_wins_per_doc_across_overlapping_folds(spark, tmp_path):
    """Two folds touching the SAME doc: the doc's entire posting set must
    read from the newest delta only (whole-document replacement across
    delta partitions, not a union of both versions)."""
    from pgcp_spark.sources import lake

    index_dir = str(tmp_path / "ti")
    build_text_index_from(spark, _docs(spark, [(1, "a b"), (2, "b c")]), index_dir)
    update_text_index(spark, _docs(spark, [(1, "x y z")]), index_dir)
    update_text_index(spark, _docs(spark, [(1, "q"), (3, "r r")]), index_dir)
    assert len(lake.delta_names(os.path.join(index_dir, "postings"))) == 2
    assert _table_rows(spark, index_dir, "postings") == [
        ("b", 2, 1, 2),
        ("c", 2, 1, 2),
        ("q", 1, 1, 1),  # doc 1 = newest delta only: x/y/z gone
        ("r", 3, 2, 2),
    ]
    assert _table_rows(spark, index_dir, "stats") == [
        ("n_docs", 3),
        ("total_tokens", 5),
    ]
    # flatten collapses both deltas into the base with identical content
    lake.flatten_deltas(
        spark, os.path.join(index_dir, "postings"), key=["doc_id"],
        cluster_by=["tok"],
    )
    assert _base_postings_rows(spark, index_dir) == [
        ("b", 2, 1, 2),
        ("c", 2, 1, 2),
        ("q", 1, 1, 1),
        ("r", 3, 2, 2),
    ]


def test_compaction_flattens_pending_deltas(spark, tmp_path):
    """compact_text_index is the cadence where the deferred fold cost is
    paid: pending deltas merge into the base, results unchanged, and the
    retired delta dirs keep one cycle of reader grace before the next
    maintenance pass reaps them."""
    from pgcp_spark.sources import lake, load_table

    index_dir = str(tmp_path / "ti")
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    build_text_index_from(spark, docs.filter(F.col("doc_id") % 2 == 0), index_dir)
    update_text_index(spark, docs.filter(F.col("doc_id") % 2 == 1), index_dir)
    postings_dir = os.path.join(index_dir, "postings")
    (delta_name,) = lake.delta_names(postings_dir)
    before = _rows(bm25_from_index(spark, index_dir), "rnk")

    compact_text_index(spark, index_dir)
    assert lake.delta_names(postings_dir) == []
    assert lake.retired_delta_names(postings_dir) == [delta_name]
    assert os.path.isdir(os.path.join(postings_dir, delta_name))  # grace
    assert _rows(bm25_from_index(spark, index_dir), "rnk") == before

    compact_text_index(spark, index_dir)  # next cadence: grace ends
    assert not os.path.isdir(os.path.join(postings_dir, delta_name))
    assert _rows(bm25_from_index(spark, index_dir), "rnk") == before


def test_retention_delete_erases_pending_delta_rows_too(spark, tmp_path):
    """GDPR completeness across the delta layer: ids whose only rows live
    in an un-merged fold delta must still be erased. Round 10: the
    remove lands as an O(keys) TOMBSTONE delta in the same commit log,
    so the fold rows die logically at once (tombstone seq > fold seq);
    the PHYSICAL erasure is the explicit two-step — cadence flatten +
    vacuum — after which no parquet file anywhere holds the doc."""
    from pgcp_spark.functions.text_index import remove_from_text_index
    from pgcp_spark.sources import lake

    index_dir = str(tmp_path / "ti")
    build_text_index_from(spark, _docs(spark, [(1, "a b"), (2, "b c")]), index_dir)
    update_text_index(spark, _docs(spark, [(3, "a secret")]), index_dir)
    remove_from_text_index(
        spark, spark.createDataFrame([(3,)], "doc_id long"), index_dir, keep=1
    )
    postings_dir = os.path.join(index_dir, "postings")
    # fold delta + tombstone delta, commit-ordered; base untouched
    assert len(lake.delta_names(postings_dir)) == 2
    assert _table_rows(spark, index_dir, "postings") == [
        ("a", 1, 1, 2),
        ("b", 1, 1, 2),
        ("b", 2, 1, 2),
        ("c", 2, 1, 2),
    ]
    assert _table_rows(spark, index_dir, "stats") == [
        ("n_docs", 2),
        ("total_tokens", 4),
    ]
    # the "truly gone" step: cadence flatten applies the tombstone
    # physically, vacuum ends grace — then NO parquet file anywhere in
    # the table dir still holds doc 3's rows
    compact_text_index(spark, index_dir)
    assert lake.delta_names(postings_dir) == []
    lake.vacuum(postings_dir, keep=1, orphan_min_age_s=0)
    import pyarrow.parquet as _pq

    for root, _, files in os.walk(postings_dir):
        for f in files:
            if f.endswith(".parquet"):
                t = _pq.read_table(os.path.join(root, f), columns=["doc_id"])
                assert 3 not in t.column("doc_id").to_pylist(), os.path.join(root, f)


def test_registered_delta_fold_query_matches_duckdb_oracle(spark):
    """The driver-gate twin, asserted locally: the mid-cadence query (base
    ∪ un-merged delta) hash-matches the from-scratch oracle on the
    post-fold corpus."""
    import duckdb

    from pgcp_spark.functions.text_index import (
        _DELTA_FOLD_ORACLE,
        text_bm25_topk_index_delta_fold,
    )
    from tests.conftest import SF_DIR_CORRECTNESS

    got = [
        tuple(r)
        for r in text_bm25_topk_index_delta_fold(spark, SF_DIR_CORRECTNESS).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR_CORRECTNESS}/documents.parquet'"
    )
    want = [tuple(r) for r in con.execute(_DELTA_FOLD_ORACLE).fetchall()]
    assert got == want and len(got) > 0


def test_tok_filter_pushes_into_base_and_delta_scans(spark, tmp_path):
    """Merge-on-read must not cost the pushdown: with a pending fold
    delta, the query's term IN-filter reaches BOTH the base snapshot scan
    and the delta scan (the newest-version bookkeeping deliberately scans
    delta doc_ids unfiltered — that scan is batch-sized)."""
    from pgcp_spark.plans.explain import pushed_filters

    index_dir = str(tmp_path / "ti")
    build_text_index_from(
        spark, _docs(spark, [(1, "vector join scan"), (2, "filter sort")]), index_dir
    )
    update_text_index(spark, _docs(spark, [(3, "vector merge")]), index_dir)
    df = bm25_from_index(spark, index_dir)
    filters = pushed_filters(df)
    tok_in = [f for f in filters if "tok" in f and "In(" in f]
    # base postings scan + delta scan both carry the pushed IN filter
    assert len(tok_in) >= 2, filters
    # round 10: a pending TOMBSTONE must not cost the pushdown either —
    # the tombstone resolution is a left join on the preserved side, so
    # the term filter still reaches base AND data-delta scans through it
    from pgcp_spark.functions.text_index import remove_from_text_index

    remove_from_text_index(
        spark, spark.createDataFrame([(2,)], "doc_id long"), index_dir
    )
    filters = pushed_filters(bm25_from_index(spark, index_dir))
    tok_in = [f for f in filters if "tok" in f and "In(" in f]
    assert len(tok_in) >= 2, filters


def test_flatten_crash_between_commit_and_log_clear_converges(spark, tmp_path):
    """Crash-safety claim in sources/lake.py: if flatten commits the
    merged base but dies BEFORE clearing the delta log, readers see the
    folded rows in base AND the same rows winning from the still-active
    deltas — replacement semantics collapse that to identical effective
    content, and the next flatten drains cleanly."""
    from pgcp_spark.sources import lake

    index_dir = str(tmp_path / "ti")
    build_text_index_from(spark, _docs(spark, [(1, "a b"), (2, "b c")]), index_dir)
    update_text_index(spark, _docs(spark, [(1, "x"), (3, "y z")]), index_dir)
    pdir = os.path.join(index_dir, "postings")
    want = _table_rows(spark, index_dir, "postings")

    # simulate the crash: commit the merged base, but leave _DELTAS as-is
    merged = lake.read_current_with_deltas(spark, pdir, key=["doc_id"])
    lake.write_snapshot(merged.select("tok", "doc_id", "n", "dl"), pdir, keep=2)

    assert lake.delta_names(pdir)  # the log still lists the active delta
    assert _table_rows(spark, index_dir, "postings") == want  # converged view
    assert _rows(bm25_from_index(spark, index_dir), "rnk") == _rows(
        bm25_from_index(spark, index_dir), "rnk"
    )
    # recovery: the next flatten drains the log and nothing changes
    lake.flatten_deltas(spark, pdir, key=["doc_id"], cluster_by=["tok"])
    assert lake.delta_names(pdir) == []
    assert _table_rows(spark, index_dir, "postings") == want


@pytest.mark.parametrize("crash_table", ["doclen", "stats"])
def test_mid_fold_crash_window_skew_then_replay_converges(
    spark, tmp_path, monkeypatch, crash_table
):
    """Round-10 crash-consistency pin (round-9 verdict "What's wrong" #1):
    kill the fold between its commits — after the postings-delta append
    but before the doclen commit, and after doclen but before stats —
    assert (a) the documented reader-visible skew (new postings scored
    with the OLD corpus stats; never an error), then (b) replay the
    batch and assert bit-exact convergence with an uninterrupted fold.
    The same argument covers the dedup family (three delta appends —
    replay re-appends, newest-wins shadows) and ANN (single-table
    append); see indexes/loop.py's module docstring."""
    from pgcp_spark.sources import lake

    crash_dir, clean_dir = str(tmp_path / "crash"), str(tmp_path / "clean")
    seed = [(1, "alpha beta"), (2, "beta gamma")]
    build_text_index_from(spark, _docs(spark, seed), crash_dir)
    build_text_index_from(spark, _docs(spark, seed), clean_dir)
    batch = _docs(spark, [(1, "alpha delta delta"), (3, "gamma gamma epsilon")])

    real_write = TI.write_snapshot

    def exploding_write(df, table_dir, **kw):
        if table_dir.endswith(os.sep + crash_table) and crash_dir in table_dir:
            raise RuntimeError("simulated crash before this commit")
        return real_write(df, table_dir, **kw)

    monkeypatch.setattr(TI, "write_snapshot", exploding_write)
    with pytest.raises(RuntimeError, match="simulated crash"):
        update_text_index(spark, batch, crash_dir)
    monkeypatch.setattr(TI, "write_snapshot", real_write)

    # (a) the skew, exactly as documented: the postings delta IS visible
    # (merge-on-read) while stats still describe the pre-fold corpus —
    # a reader scores new postings with the old n_docs/avgdl
    assert len(lake.delta_names(os.path.join(crash_dir, "postings"))) == 1
    eff = {
        (r.tok, r.doc_id) for r in TI.stored_postings(spark, crash_dir).collect()
    }
    assert ("delta", 1) in eff and ("epsilon", 3) in eff
    stale = {
        r.metric: r.value
        for r in read_current(spark, os.path.join(crash_dir, "stats")).collect()
    }
    assert stale == {"n_docs": 2, "total_tokens": 4}  # pre-fold corpus
    # and the skewed read path WORKS (returns, no error) mid-window
    assert TI.bm25_from_index(spark, crash_dir, ("beta",), 5).count() > 0

    # (b) at-least-once replay converges bit-exactly with a clean fold
    update_text_index(spark, batch, crash_dir)
    update_text_index(spark, batch, clean_dir)
    for t, order in (
        ("postings", ["tok", "doc_id"]),
        ("doclen", ["doc_id"]),
        ("stats", ["metric"]),
    ):
        if t == "postings":
            got = TI.stored_postings(spark, crash_dir)
            want = TI.stored_postings(spark, clean_dir)
        else:
            got = read_current(spark, os.path.join(crash_dir, t))
            want = read_current(spark, os.path.join(clean_dir, t))
        assert (
            [tuple(r) for r in got.orderBy(*order).collect()]
            == [tuple(r) for r in want.orderBy(*order).collect()]
        ), t
    # and the ranked read path is bit-identical too
    got_q = [tuple(r) for r in TI.bm25_from_index(spark, crash_dir, ("beta", "delta"), 5).collect()]
    want_q = [tuple(r) for r in TI.bm25_from_index(spark, clean_dir, ("beta", "delta"), 5).collect()]
    assert got_q == want_q


def test_maybe_flatten_triggers_exactly_once_past_threshold(spark, tmp_path, monkeypatch):
    """Round-10 self-healing pin: folding batches past FLATTEN_MAX_DELTAS
    triggers exactly ONE flatten at the threshold batch (delta log
    drains, base absorbs the folds), the counter restarts, and the
    ranked query stays bit-identical to a from-scratch rebuild on the
    absorbed corpus throughout."""
    from pgcp_spark.indexes import loop
    from pgcp_spark.sources import lake
    from pgcp_spark.streaming.ingest_text import fold_text_batch

    monkeypatch.setattr(loop, "FLATTEN_MAX_DELTAS", 3)
    index_dir = str(tmp_path / "ti")
    postings_dir = os.path.join(index_dir, "postings")
    seen: list[tuple[int, str]] = []  # (batch #, word) for the rebuild twin
    flatten_batches = []
    for i in range(6):
        word = "abcdef"[i]
        seen.append((i + 1, f"{word} beta"))
        before = lake.current_snapshot(postings_dir)
        fold_text_batch(
            spark, _docs(spark, [(i + 1, f"{word} beta")]), index_dir
        )
        if before is not None and lake.current_snapshot(postings_dir) != before:
            flatten_batches.append(i)
    # batch 0 builds (no delta); batches 1,2 append; batch 3 hits 3 active
    # deltas → ONE flatten; batches 4,5 append again (counter restarted)
    assert flatten_batches == [3]
    assert len(lake.delta_names(postings_dir)) == 2
    rebuild_dir = str(tmp_path / "rb")
    build_text_index_from(spark, _docs(spark, seen), rebuild_dir)
    assert _rows(
        bm25_from_index(spark, index_dir, ("beta",), 10), "rnk"
    ) == _rows(bm25_from_index(spark, rebuild_dir, ("beta",), 10), "rnk")


# --- CDC-driven maintenance (round 12) --------------------------------------


def test_cdc_fold_contracts(spark, tmp_path):
    """fold_text_index_from_docs_state: an already-applied state skips, a
    shadow-delta state change stamps without folding, a replayed diff
    converges to the same served ranking (at-least-once tolerance — the
    module comment's argument, exercised), and a missing watermark
    refuses."""
    import pgcp_spark.sources.lake as lake
    from pgcp_spark.functions.text_index import (
        bm25_from_index,
        build_text_index_from,
        fold_text_index_from_docs_state,
    )

    docs_dir = str(tmp_path / "docs")
    index_dir = str(tmp_path / "idx")
    d0 = _docs(spark, [(1, "alpha beta"), (2, "beta gamma"), (3, "gamma delta")])
    lake.write_snapshot(d0, docs_dir, keep=2)
    build_text_index_from(spark, lake.read_current(spark, docs_dir), index_dir)
    TI._write_stats_from_doclen(
        spark, index_dir,
        meta={"applied_docs_state": lake.pending_state(docs_dir)},
    )
    # already-applied state: skip
    assert fold_text_index_from_docs_state(spark, docs_dir, index_dir) is False

    # a real CDC batch: re-text doc 2, delete doc 3, insert doc 4
    batch = spark.createDataFrame(
        [
            (2, "beta beta epsilon", "upsert"),
            (3, None, "delete"),
            (4, "epsilon zeta", "upsert"),
        ],
        ["doc_id", "text", "_op"],
    )
    lake.merge_cdc_delta(spark, docs_dir, batch, key=["doc_id"])
    assert fold_text_index_from_docs_state(spark, docs_dir, index_dir) is True
    got = _rows(bm25_from_index(spark, index_dir, ("beta", "epsilon"), 10), "rnk")
    rebuild_dir = str(tmp_path / "rb")
    build_text_index_from(
        spark,
        lake.read_current_with_deltas(spark, docs_dir, key=["doc_id"]),
        rebuild_dir,
    )
    assert got == _rows(
        bm25_from_index(spark, rebuild_dir, ("beta", "epsilon"), 10), "rnk"
    )
    # replay of the same state: watermark skips it
    assert fold_text_index_from_docs_state(spark, docs_dir, index_dir) is False

    # shadow delta (state id moves, data does not): stamp, no fold
    lake.append_delta(
        spark.createDataFrame(
            [(2, "beta beta epsilon")], ["doc_id", "text"]
        ),
        docs_dir,
    )
    assert fold_text_index_from_docs_state(spark, docs_dir, index_dir) is False
    assert lake.snapshot_meta(os.path.join(index_dir, "stats")).get(
        "applied_docs_state"
    ) == lake.pending_state(docs_dir)
    assert got == _rows(
        bm25_from_index(spark, index_dir, ("beta", "epsilon"), 10), "rnk"
    )

    # missing watermark (metaless stats commit) refuses
    TI._write_stats_from_doclen(spark, index_dir)
    lake.append_delta(
        spark.createDataFrame([(5, "zeta zeta")], ["doc_id", "text"]), docs_dir
    )
    with pytest.raises(RuntimeError, match="applied_docs_state"):
        fold_text_index_from_docs_state(spark, docs_dir, index_dir)


def test_cdc_fold_crash_between_folds_keeps_watermark(spark, tmp_path, monkeypatch):
    """A mixed diff (upserts AND deletes) advances the watermark only at
    the FINAL stats commit (r14: the fused apply — one doclen commit,
    overlapped postings writes, stats last). A crash after the data
    writes but before that commit must leave the OLD watermark standing
    — the replay then folds the whole diff and converges, instead of
    refusing forever (the r12 review fix, restated for the fused shape)."""
    import pgcp_spark.sources.lake as lake
    from pgcp_spark.functions.text_index import (
        bm25_from_index,
        build_text_index_from,
        fold_text_index_from_docs_state,
    )

    docs_dir = str(tmp_path / "docs")
    index_dir = str(tmp_path / "idx")
    d0 = _docs(spark, [(1, "alpha beta"), (2, "beta gamma"), (3, "gamma delta")])
    lake.write_snapshot(d0, docs_dir, keep=2)
    build_text_index_from(spark, lake.read_current(spark, docs_dir), index_dir)
    applied0 = lake.pending_state(docs_dir)
    TI._write_stats_from_doclen(
        spark, index_dir, meta={"applied_docs_state": applied0}
    )
    batch = spark.createDataFrame(
        [(2, "beta beta epsilon", "upsert"), (3, None, "delete")],
        ["doc_id", "text", "_op"],
    )
    lake.merge_cdc_delta(spark, docs_dir, batch, key=["doc_id"])

    # crash after the fused data writes, before the watermark-carrying
    # stats commit
    real_stats = TI._write_stats_from_doclen

    def boom(*a, **kw):
        raise RuntimeError("simulated crash before the stats commit")

    monkeypatch.setattr(TI, "_write_stats_from_doclen", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        fold_text_index_from_docs_state(spark, docs_dir, index_dir)
    monkeypatch.setattr(TI, "_write_stats_from_doclen", real_stats)
    # the watermark survived as the OLD state (not None, not the new one)
    wm = lake.snapshot_meta(os.path.join(index_dir, "stats")).get(
        "applied_docs_state"
    )
    assert wm == applied0
    # the replay folds the whole diff and converges to the rebuild
    assert fold_text_index_from_docs_state(spark, docs_dir, index_dir) is True
    rebuild_dir = str(tmp_path / "rb")
    build_text_index_from(
        spark,
        lake.read_current_with_deltas(spark, docs_dir, key=["doc_id"]),
        rebuild_dir,
    )
    assert _rows(bm25_from_index(spark, index_dir, ("beta",), 10), "rnk") == _rows(
        bm25_from_index(spark, rebuild_dir, ("beta",), 10), "rnk"
    )


def test_group_commit_reader_never_sees_index_corpus_skew(spark, tmp_path):
    """Round 13: the corpus/index atomicity pin. A read_group reader
    racing the CDC apply + index fold resolves the group manifest once
    per observation and must find the pinned index EXACTLY the pure
    function of the pinned corpus — postings == doc_terms(docs) and
    stats == (n_docs, total_tokens) recomputed — on EVERY observation:
    retrieval can never serve an index ahead of or behind its corpus."""
    import threading

    from pgcp_spark.functions.text_index import (
        INDEX_GROUP_KEYS,
        _write_stats_from_doclen,
        doc_terms,
        fold_text_index_from_docs_state,
    )
    from pgcp_spark.sources import load_table
    from pgcp_spark.sources.lake import (
        merge_cdc_delta,
        pending_state,
        write_snapshot,
    )
    from pgcp_spark.sources.txn import (
        commit_group,
        occ_commit_group,
        read_group,
        table_state,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    gdir = str(tmp_path / "grp")
    os.makedirs(gdir)
    docs_dir = os.path.join(gdir, "docs")
    members = ("docs", "postings", "doclen", "stats")
    write_snapshot(docs.filter(F.col("doc_id") % 3 != 0), docs_dir, keep=2)
    build_text_index_from(spark, read_current(spark, docs_dir), gdir)
    _write_stats_from_doclen(
        spark, gdir, meta={"applied_docs_state": pending_state(docs_dir)}
    )
    commit_group(gdir, {n: table_state(gdir, n) for n in members})

    torn: list[str] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                _observe()
            except Exception as exc:  # noqa: BLE001 — a died reader must
                # FAIL the test (a GC'd pin under keep=2 killed the
                # thread silently and passed this test vacuously)
                torn.append(f"reader died: {exc}")
                return
            if torn:
                return

    def _observe():
        dfs = read_group(spark, gdir, INDEX_GROUP_KEYS)
        want_p = sorted(
            tuple(r)
            for r in doc_terms(dfs["docs"])
            .select("tok", "doc_id", "n", "dl")
            .collect()
        )
        got_p = sorted(
            tuple(r)
            for r in dfs["postings"].select("tok", "doc_id", "n", "dl").collect()
        )
        if got_p != want_p:
            torn.append("pinned postings != doc_terms(pinned corpus)")
            return
        got_s = {r.metric: r.value for r in dfs["stats"].collect()}
        dl = {d for _, d, _, _ in want_p}
        want_n = len(dl)
        want_tot = sum(n for _, _, n, _ in want_p)
        if (got_s["n_docs"], got_s["total_tokens"]) != (want_n, want_tot):
            torn.append(f"pinned stats {got_s} != corpus recompute")
            return

    t = threading.Thread(target=reader)
    t.start()
    try:
        ups = (
            docs.filter(F.col("doc_id") % 5 == 0)
            .select(
                "doc_id",
                F.concat(F.col("text"), F.lit(" reindexed")).alias("text"),
            )
            .withColumn("_op", F.lit("upsert"))
        )
        dels = (
            docs.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 5 != 0))
            .select("doc_id", F.lit(None).cast("string").alias("text"))
            .withColumn("_op", F.lit("delete"))
        )
        merge_cdc_delta(spark, docs_dir, ups.unionByName(dels), key=["doc_id"])
        # keep=3: the retention ladder — a fold lands TWO commits per
        # copy-on-write member, and the racing reader's pinned manifest
        # must stay resolvable until the publish (keep=2 GC'd its pin
        # and killed the reader — the exact hazard this pin guards)
        fold_text_index_from_docs_state(spark, docs_dir, gdir, keep=3)
        occ_commit_group(
            gdir, lambda _s: {n: table_state(gdir, n) for n in members}
        )
    finally:
        stop.set()
        t.join()
    assert not torn, torn[0]
    # end state: the pinned quartet reflects the post-CDC corpus
    pinned = read_group(spark, gdir, INDEX_GROUP_KEYS)
    assert pinned["docs"].filter(
        (F.col("doc_id") % 7 == 0)
        & (F.col("doc_id") % 5 != 0)
        & (F.col("doc_id") % 3 != 0)
    ).count() == 0
    assert pinned["postings"].filter(F.col("tok") == "reindexed").count() > 0


def test_cdc_fold_skips_intermediate_stats_and_crash_converges(
    spark, tmp_path, monkeypatch
):
    """Single-stats-commit pin (r13 wave 6, restated for the r14 fused
    apply): a both-sides CDC fold commits stats ONCE — LAST, carrying the
    watermark — and a crash after the data writes but before it leaves
    stats at the PRE-fold values WITH the pre-fold watermark (never None,
    never intermediate), so the replayed fold re-walks the whole diff and
    converges bit-exactly with an uninterrupted twin."""
    from pgcp_spark.sources import lake
    from pgcp_spark.sources.lake import (
        merge_cdc_delta,
        pending_state,
        snapshot_meta,
        write_snapshot,
    )

    def mk(root):
        docs_dir, idx = str(root / "docs"), str(root / "idx")
        write_snapshot(
            _docs(spark, [(1, "alpha beta"), (2, "beta gamma"), (3, "gamma d")]),
            docs_dir,
            keep=2,
        )
        build_text_index_from(
            spark,
            lake.read_current(spark, docs_dir),
            idx,
            stats_meta={"applied_docs_state": pending_state(docs_dir)},
        )
        ups = _docs(spark, [(1, "alpha delta")]).withColumn(
            "_op", F.lit("upsert")
        )
        dels = (
            _docs(spark, [(2, "x")])
            .select("doc_id", F.lit(None).cast("string").alias("text"))
            .withColumn("_op", F.lit("delete"))
        )
        merge_cdc_delta(spark, docs_dir, ups.unionByName(dels), key=["doc_id"])
        return docs_dir, idx

    crash_docs, crash_idx = mk(tmp_path / "crash")
    clean_docs, clean_idx = mk(tmp_path / "clean")
    stats_dir = os.path.join(crash_idx, "stats")
    pre_wm = snapshot_meta(stats_dir).get("applied_docs_state")
    assert pre_wm is not None

    real_stats = TI._write_stats_from_doclen

    def exploding(*a, **kw):
        raise RuntimeError("simulated crash before the stats commit")

    monkeypatch.setattr(TI, "_write_stats_from_doclen", exploding)
    with pytest.raises(RuntimeError, match="simulated crash"):
        TI.fold_text_index_from_docs_state(spark, crash_docs, crash_idx)
    monkeypatch.setattr(TI, "_write_stats_from_doclen", real_stats)

    # the fused data writes committed NO stats: pre-fold values AND watermark
    stale = {
        r.metric: r.value for r in read_current(spark, stats_dir).collect()
    }
    assert stale == {"n_docs": 3, "total_tokens": 6}
    assert snapshot_meta(stats_dir).get("applied_docs_state") == pre_wm

    # the replayed fold converges bit-exactly with the uninterrupted twin
    assert TI.fold_text_index_from_docs_state(spark, crash_docs, crash_idx) is True
    assert TI.fold_text_index_from_docs_state(spark, clean_docs, clean_idx) is True
    eff = lambda idx: sorted(
        tuple(r) for r in TI.stored_postings(spark, idx).collect()
    )
    assert eff(crash_idx) == eff(clean_idx)
    for t, order in (("doclen", ["doc_id"]), ("stats", ["metric"])):
        got = [
            tuple(r)
            for r in read_current(spark, os.path.join(crash_idx, t))
            .orderBy(*order)
            .collect()
        ]
        want = [
            tuple(r)
            for r in read_current(spark, os.path.join(clean_idx, t))
            .orderBy(*order)
            .collect()
        ]
        assert got == want, t
    # both watermarks advanced to their post-CDC state
    assert snapshot_meta(stats_dir).get(
        "applied_docs_state"
    ) == pending_state(crash_docs)
