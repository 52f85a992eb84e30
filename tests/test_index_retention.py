"""Retention/GDPR delete propagation through the persisted index
families: corpus deletes must leave no trace in the stored artifacts —
text postings (remove == rebuild bit-exact), dedup postings (removed
docs can never match again), ANN vectors (removed ids stop being
neighbors; exactness vs numpy on the retained set), and HLL sketch
partials (day-grain retirement; user-level deletes via complete-day
re-sketch, since HLL union is not invertible)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

import pgcp_spark.functions.ann_index as AI
import pgcp_spark.functions.text_index as TI
from pgcp_spark.functions import sketches as SK
from pgcp_spark.functions.ann_index import (
    batch_vs_ann_index,
    build_ann_index_from,
    remove_from_ann_index,
)
from pgcp_spark.functions.dedup_index import (
    batch_vs_index_docs,
    build_index_from,
    remove_from_index,
)
from pgcp_spark.functions.text_index import (
    build_text_index_from,
    remove_from_text_index,
)
from pgcp_spark.sources import lake, load_table
from tests.conftest import SF_DIR


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_text_remove_equals_rebuild_bit_exact(spark, tmp_path):
    """Round 10: the delete lands as an O(keys) tombstone delta, so the
    EFFECTIVE postings (merge-on-read) must equal the rebuild-on-retained
    immediately, and the PHYSICAL base must be bit-exact after the
    compaction-cadence flatten applies the tombstone."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    removed = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    retained = docs.filter(F.col("doc_id") % 7 != 0)

    rm_dir, rb_dir = str(tmp_path / "rm"), str(tmp_path / "rb")
    build_text_index_from(spark, docs, rm_dir)
    base_snap = lake.current_snapshot(os.path.join(rm_dir, "postings"))
    remove_from_text_index(spark, removed, rm_dir)
    # O(keys) contract: the corpus-sized postings base was NOT rewritten;
    # the delete is a committed tombstone delta
    assert lake.current_snapshot(os.path.join(rm_dir, "postings")) == base_snap
    assert len(lake.delta_names(os.path.join(rm_dir, "postings"))) == 1
    build_text_index_from(spark, retained, rb_dir)
    order = {"postings": ["tok", "doc_id"], "doclen": ["doc_id"], "stats": ["metric"]}

    def _effective(index_dir, t):
        if t == "postings":
            return TI.stored_postings(spark, index_dir)
        return lake.read_current(spark, os.path.join(index_dir, t))

    for t in TI._SUBTABLES:
        got = _rows(_effective(rm_dir, t), *order[t])
        want = _rows(_effective(rb_dir, t), *order[t])
        assert got == want, t
    # replay: removing the (now absent) ids again is a no-op
    before = _rows(TI.stored_postings(spark, rm_dir), "tok", "doc_id")
    remove_from_text_index(spark, removed, rm_dir)
    assert _rows(TI.stored_postings(spark, rm_dir), "tok", "doc_id") == before
    # the cadence flatten applies the tombstone physically: base postings
    # now bit-exact vs the rebuild, no deltas left
    TI.compact_text_index(spark, rm_dir)
    assert lake.delta_names(os.path.join(rm_dir, "postings")) == []
    assert _rows(
        lake.read_current(spark, os.path.join(rm_dir, "postings")), "tok", "doc_id"
    ) == _rows(lake.read_current(spark, os.path.join(rb_dir, "postings")), "tok", "doc_id")


def test_dedup_remove_blocks_future_matches(spark, tmp_path):
    """A removed doc must never match an incoming batch again, and every
    retained pair must score exactly as before (its sz/jaccard derive
    only from its own shingles and the frozen hot list)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    indexed = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    removed_ids = {
        r.doc_id for r in indexed.filter(F.col("doc_id") % 7 == 0).collect()
    }

    index_dir = str(tmp_path / "di")
    build_index_from(spark, indexed, index_dir)
    before = {
        (r.doc_new, r.doc_old): (r.n_shared, r.jaccard)
        for r in batch_vs_index_docs(spark, batch, index_dir).collect()
    }
    remove_from_index(
        spark, indexed.filter(F.col("doc_id") % 7 == 0).select("doc_id"), index_dir
    )
    after = {
        (r.doc_new, r.doc_old): (r.n_shared, r.jaccard)
        for r in batch_vs_index_docs(spark, batch, index_dir).collect()
    }
    assert all(old not in removed_ids for _, old in after)
    # after == before minus pairs that referenced a removed doc
    assert after == {k: v for k, v in before.items() if k[1] not in removed_ids}


def test_ann_remove_exact_on_retained(spark, tmp_path):
    """Post-removal, the all-lists probe must equal the numpy exact
    top-k over the RETAINED stored set — removal neither leaves ghosts
    nor damages surviving scores/layout."""
    emb = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .filter(AI.valid_embedding())
    )
    indexed = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    index_dir = str(tmp_path / "ai")
    build_ann_index_from(spark, indexed, index_dir)
    remove_from_ann_index(
        spark, indexed.filter(F.col("vec_id") % 7 == 0).select("vec_id"), index_dir
    )
    got = {}
    for r in batch_vs_ann_index(spark, batch, index_dir, nprobe=16, top_k=3).collect():
        got.setdefault(r.vec_id, set()).add(r.neighbor_id)

    retained = {
        r.vec_id: np.array(r.embedding, float)
        for r in indexed.filter(F.col("vec_id") % 7 != 0).collect()
    }
    ids = sorted(retained)
    mat = np.stack([retained[i] for i in ids])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for q in batch.collect():
        v = np.array(q.embedding, float)
        sims = np.round(mat @ (v / np.linalg.norm(v)), 6)
        order = np.lexsort((ids, -sims))[:3]
        assert got.get(q.vec_id, set()) == {ids[j] for j in order}, q.vec_id


def test_sketch_day_retirement_and_user_resketch(spark, tmp_path):
    events = load_table(spark, SF_DIR, "events")
    days = sorted(
        r.day
        for r in events.select(F.to_date("ts").alias("day")).distinct().collect()
        if r.day is not None
    )
    assert len(days) >= 3
    cutoff = days[1]
    table_dir = str(tmp_path / "sk")
    SK.build_sketch_table(spark, SF_DIR, table_dir)

    pre_snap = lake.current_snapshot(table_dir)
    SK.retire_sketch_days(spark, table_dir, before_day=cutoff)
    stored_days = {
        r.day for r in lake.read_current(spark, table_dir).select("day").collect()
    }
    assert min(stored_days) >= cutoff and stored_days == {d for d in days if d >= cutoff}
    # retained-range answers are untouched by retirement
    got = _rows(
        SK.distinct_users_from_sketches(spark, table_dir, day_from=cutoff),
        "event_type",
    )
    assert len(got) > 0
    # a reader of the pre-retirement partials keeps them (the grace)
    assert lake.read_snapshot(spark, table_dir, pre_snap).count() > len(
        lake.read_current(spark, table_dir).collect()
    ) - 1

    # user-level delete inside a retained day: re-sketch the day from the
    # filtered fact; the complete-day MERGE replaces the stored partial
    day = days[-1]
    day_events = events.filter(F.to_date("ts") == F.lit(day))
    victim = day_events.select("user_id").filter(
        F.col("user_id").isNotNull()
    ).first()
    if victim is None:
        pytest.skip("no non-null user on the chosen day")
    SK.fold_sketch_batch(
        spark, day_events.filter(~F.col("user_id").eqNullSafe(victim.user_id)), table_dir
    )
    est = {
        r.event_type: r.est_users
        for r in SK.distinct_users_from_sketches(
            spark, table_dir, day_from=day, day_to=day
        ).collect()
    }
    # the re-sketched partials describe the filtered day: estimates can
    # only be <= the unfiltered rebuild's (sparse regime: strictly fewer
    # ids); assert via an independent rebuild of the same filtered day
    rebuilt = {
        r.event_type: r.est_users
        for r in SK.merge_sketches(
            SK.daily_user_sketches(
                day_events.filter(~F.col("user_id").eqNullSafe(victim.user_id))
            )
        ).collect()
    }
    assert est == rebuilt
