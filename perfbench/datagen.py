"""Seeded input generators: the benchmark's only source of data.

``write_tables`` writes the TPC-H-like star schema plus the ``events``,
``documents`` and ``embeddings`` tables that the registry queries read, one
single-row-group parquet file per table, with the column names, types and
value domains of the project's test data (so every query's filters stay
selective but non-empty). Row counts scale linearly with ``sf``; at
``sf=0.1`` they match the project's sf0.1 test set.

``cdc_batch`` draws the keyed change batches of the lake workload.

The same seed always gives the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at sf=1
_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_COLORS = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_LANGS = ["en", "zh", "de", "es", "fr"]
_WORDS = (
    "query row stream the spark line small fast group customer batch sort value"
    " hash filter big data dup part column order scan a slow agg key window"
    " table merge vector join"
).split()
EMB_DIM = 64
ORDER_STATUSES = ["O", "F", "P"]

_DAY_US = 86_400 * 1_000_000


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, len(values), n), type=pa.int32()), pa.array(values)
    ).cast(pa.string())


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def orders_table(rng, n: int, n_cust: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), type=pa.int64()),
            "o_orderstatus": _pick(rng, ORDER_STATUSES, n),
            "o_totalprice": _money(rng, 1000, 500_000, n),
            "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n)),
            "o_orderpriority": _pick(rng, _PRIORITIES, n),
        }
    )


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.array(_WORDS)[rng.integers(0, len(_WORDS), int(lengths.sum()))]
    texts, at = [], 0
    for k in lengths:
        texts.append(" ".join(words[at : at + k]))
        at += k
    lang_p = np.array([0.41, 0.15, 0.14, 0.15, 0.15])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), type=pa.int64()),
            "text": texts,
            "lang": pa.array(np.array(_LANGS)[rng.choice(len(_LANGS), n, p=lang_p)]),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, EMB_DIM))
    vecs = centers[labels] + rng.normal(scale=2.0, size=(n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), type=pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), EMB_DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(labels, type=pa.int32()),
        }
    )


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table under ``out_dir`` as ``<name>.parquet``."""
    rng = np.random.default_rng(seed)
    n = {t: max(10, round(r * sf)) for t, r in _ROWS.items()}
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n["customer"]), type=pa.int64()),
                "c_name": _names("Customer", n["customer"]),
                "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), type=pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                "c_mktsegment": _pick(rng, _SEGMENTS, n["customer"]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n["supplier"]), type=pa.int64()),
                "s_name": _names("Supplier", n["supplier"]),
                "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), type=pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n["part"]), type=pa.int64()),
                "p_name": [
                    f"{_COLORS[c]} {_NOUNS[w]}"
                    for c, w in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
                "p_type": _pick(rng, _PTYPES, n["part"]),
                "p_size": pa.array(rng.integers(1, 51, n["part"]), type=pa.int32()),
                "p_retailprice": 900.0 + (np.arange(n["part"]) % 1000) / 10.0,
            }
        ),
        "orders": orders_table(rng, n["orders"], n["customer"]),
    }
    m = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m), type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], m), type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), type=pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, m), type=pa.int32()),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], m),
            "l_linestatus": _pick(rng, ["O", "F"], m),
            "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", m)),
        }
    )
    e = n["events"]
    month_us = 30 * _DAY_US
    start_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), type=pa.int64()),
            "ts": _ts(start_us + np.sort(rng.integers(0, month_us, e))),
            "user_id": pa.array(rng.integers(0, max(10, e // 66), e), type=pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def cdc_batch(
    rng, live: np.ndarray, next_key: int, n_cust: int, upsert_frac: float, delete_frac: float
):
    """One keyed CDC batch over the live key set ``live`` (sorted int64):
    updates of random live keys plus a few inserts of fresh keys, and
    deletes of other live keys. Keys are unique within the batch.
    Returns ``(batch_table, new_live, new_next_key)``."""
    n_up = max(1, round(len(live) * upsert_frac))
    n_del = max(1, round(len(live) * delete_frac))
    n_ins = max(1, n_up // 10)
    touched = rng.choice(live, size=n_up - n_ins + n_del, replace=False)
    upd, dels = touched[: n_up - n_ins], touched[n_up - n_ins :]
    ins = np.arange(next_key, next_key + n_ins, dtype=np.int64)
    ups = orders_table(rng, n_up, n_cust).drop_columns(["o_orderdate", "o_orderpriority"])
    ups = ups.set_column(0, "o_orderkey", pa.array(np.concatenate([upd, ins])))
    ups = ups.append_column("_op", pa.array(["upsert"] * n_up))
    gone = pa.table(
        {
            "o_orderkey": pa.array(dels, type=pa.int64()),
            "o_custkey": pa.nulls(n_del, pa.int64()),
            "o_orderstatus": pa.nulls(n_del, pa.string()),
            "o_totalprice": pa.nulls(n_del, pa.float64()),
            "_op": pa.array(["delete"] * n_del),
        }
    )
    new_live = np.union1d(np.setdiff1d(live, dels), ins)
    return pa.concat_tables([ups, gone]), new_live, next_key + n_ins
