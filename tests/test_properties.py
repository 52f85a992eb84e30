"""Property-based tests (hypothesis) for the pure-logic layer — parsing,
DDL synthesis, deterministic sampling math. The reference had no
property tests (SURVEY.md §5); these pin the invariants the copy pipeline
and sampling operators rely on, with no SparkSession needed.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pgcp_spark.functions.sampling import KNUTH, MOD
from pgcp_spark.pg import catalog as cat
from pgcp_spark.pg import ddl
from pgcp_spark.qualified_name import QualifiedName, quote_ident, quote_literal

# identifiers: PG-ish names (we don't quote-split on dots inside names)
ident = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd"), whitelist_characters="_"),
    min_size=1,
    max_size=32,
).filter(lambda s: "." not in s and not s[0].isdigit())


@given(schema=ident, table=ident)
def test_qualified_name_parse_roundtrip(schema, table):
    qn = QualifiedName.parse(f"{schema}.{table}")
    assert (qn.schema_name, qn.table_name) == (schema, table)
    assert QualifiedName.parse(str(qn)) == qn


@given(name=ident)
def test_quote_ident_always_quoted_and_escaped(name):
    q = quote_ident(name + '"x')
    assert q.startswith('"') and q.endswith('"')
    assert '""' in q  # the embedded quote is doubled


@given(s=st.text(max_size=64))
def test_quote_literal_escapes_quotes(s):
    lit = quote_literal(s)
    assert lit.startswith("'") and lit.endswith("'")
    assert lit[1:-1].count("'") % 2 == 0  # all quotes doubled


@given(
    cols=st.lists(
        st.tuples(ident, st.sampled_from(["bigint", "text", "numeric(12,2)", "text[]"]),
                  st.booleans()),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    ),
    schema=ident,
    table=ident,
)
def test_create_table_statement_contains_every_column(cols, schema, table):
    defs = [cat.ColumnDef(n, t, nullable) for n, t, nullable in cols]
    stmt = ddl.create_table_statement(defs, QualifiedName(schema, table))
    assert stmt.startswith("CREATE TABLE")
    for n, t, nullable in cols:
        assert f'{quote_ident(n)} {t}' in stmt
    # every column renders exactly one NULL token; NOT NULL count matches
    # the non-nullable columns ("NOT NULL" itself contains " NULL")
    assert stmt.count(" NULL") == len(cols)
    assert stmt.count("NOT NULL") == sum(1 for _, _, nullable in cols if not nullable)


@given(key=st.integers(min_value=0, max_value=2**40))
def test_sampling_hash_stays_in_range_and_is_deterministic(key):
    h1 = (key * KNUTH) % MOD
    h2 = (key * KNUTH) % MOD
    assert h1 == h2
    assert 0 <= h1 < MOD


# 200 unique keys per example is slow to generate on a contended box,
# which trips hypothesis' too_slow health check; the property is unchanged
@settings(suppress_health_check=[HealthCheck.too_slow])
@given(keys=st.lists(st.integers(min_value=0, max_value=2**40), min_size=200,
                     max_size=200, unique=True))
def test_sampling_hash_is_roughly_uniform(keys):
    frac = sum(1 for k in keys if (k * KNUTH) % MOD < 0.5 * MOD) / len(keys)
    # multiplicative hashing over distinct keys: the half-threshold keeps
    # 50% in expectation; allow wide slack for 200 samples
    assert 0.2 <= frac <= 0.8


def test_qualified_name_rejects_garbage():
    for bad in ("", ".", "a.", ".b"):
        with pytest.raises(ValueError):
            QualifiedName.parse(bad)
    # reference semantics (qualified_name.rb:4-12): split on the FIRST dot —
    # dots in the table part are legal
    assert QualifiedName.parse("a.b.c") == QualifiedName("a", "b.c")


def test_chunking_reconstructs_documents(spark):
    """Intent check independent of the oracle (which mirrors the formula):
    dropping each non-first chunk's 16-token overlap and concatenating
    must reproduce the original token stream exactly."""
    from pgcp_spark.functions.corpus import CHUNK_OVERLAP
    from pgcp_spark.registry import all_queries
    from tests.conftest import SF_DIR_CORRECTNESS

    qs = all_queries()
    chunks = qs["corpus_chunk_fixed_tokens"].fn(spark, SF_DIR_CORRECTNESS).collect()
    docs = {
        r.doc_id: r.text.split(" ")
        for r in spark.read.parquet(f"{SF_DIR_CORRECTNESS}/documents.parquet")
        .filter("doc_id < 50")
        .collect()
    }
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_idx)
        rebuilt: list[str] = []
        for r in rows:
            toks = r.chunk_text.split(" ")
            rebuilt.extend(toks if r.chunk_idx == 0 else toks[CHUNK_OVERLAP:])
        assert rebuilt == docs[doc_id], f"doc {doc_id} reconstruction mismatch"


@given(doc_id=st.integers(min_value=0, max_value=10**7),
       n=st.integers(min_value=2, max_value=10**7),
       i=st.integers(min_value=0, max_value=15))
def test_negative_sampling_hash_in_range(doc_id, n, i):
    """The contrastive-negative candidate id is always a valid modulo-n
    value and deterministic — pure integer math, no RNG."""
    from pgcp_spark.functions.corpus import KNUTH as K, _NEG_STEP

    neg = (doc_id * K + i * _NEG_STEP) % n
    assert 0 <= neg < n
    assert neg == (doc_id * K + i * _NEG_STEP) % n


def test_rarity_and_negatives_invariants(spark):
    """Row-level invariants of the round-3 corpus ops: rarity fractions
    are probabilities, avg df bounded by corpus size; each doc draws at
    most NEG_PER_DOC negatives, never itself."""
    from pgcp_spark.functions.corpus import NEG_PER_DOC, corpus_contrastive_negatives
    from pgcp_spark.functions.text import text_rarity_score
    from tests.conftest import SF_DIR

    r = text_rarity_score(spark, SF_DIR).collect()
    n_docs = len(r)
    for row in r:
        assert 0.0 <= row.rare_frac <= 1.0
        assert 1.0 <= row.avg_token_df <= n_docs

    negs = corpus_contrastive_negatives(spark, SF_DIR).collect()
    per_doc = {}
    for row in negs:
        assert row.neg_doc_id != row.doc_id
        per_doc.setdefault(row.doc_id, []).append(row.pair_idx)
    assert per_doc and all(len(v) <= NEG_PER_DOC for v in per_doc.values())


def test_lm_perplexity_invariants(spark):
    """Intent checks independent of the oracle: a TRAIN doc's bigrams are
    all in the model by construction (unseen_frac == 0), every smoothed
    probability is < 1 so cross-entropy is strictly positive, and the
    train split is the sampling hash (deterministic)."""
    from pyspark.sql import functions as F

    from pgcp_spark.functions.text import LM_KNUTH, LM_MOD, text_lm_perplexity_score

    out = text_lm_perplexity_score(spark, "/root/testdata/sf0.001")
    is_train = (F.col("doc_id") * F.lit(LM_KNUTH)) % F.lit(LM_MOD) < F.lit(LM_MOD // 2)
    rows = out.withColumn("is_train", is_train).collect()
    assert rows, "expected scored documents"
    assert any(r.is_train for r in rows) and any(not r.is_train for r in rows)
    for r in rows:
        assert r.cross_entropy > 0, r
        assert 0.0 <= r.unseen_frac <= 1.0, r
        if r.is_train:
            assert r.unseen_frac == 0.0, f"train doc with unseen bigram: {r}"
