"""Partition-predicate generation for parallel Postgres reads.

The JDBC reader (transport.py O1) and the COPY readers (pg/copy_csv.py
O3) split a table into N parallel streams. For a NUMERIC leading PK
column the split is the classic min/max range stride. Round 13 closes
the gap the round-12 audit named most-hit (SURVEY §7 hard-part #3): a
text/uuid/composite-leading-text PK used to degrade to ONE connection —
the reference's single-pipe bottleneck (transport.rb:89-110) reproduced
for exactly the tables where parallelism matters most. Real ETL tables
have uuid PKs constantly.

The fix: N mutually-exclusive, collectively-exhaustive range predicates
over ANY btree-orderable PK column (every PG PK is btree-backed and NOT
NULL, so ordering always exists and no NULL bucket is needed):

  1. bounded small-table probe (``LIMIT threshold+1`` — never a full
     count) — genuinely small tables keep the single stream, whose
     per-connection overhead would dominate;
  2. boundary sampling: ``percentile_disc`` over a ``TABLESAMPLE
     SYSTEM`` page sample gives N-1 equal-FREQUENCY boundaries, so a
     skewed key distribution still yields balanced partitions (the
     ntile-style split SURVEY §7 prescribes, off a sample instead of a
     full sort); a small table that slips past the probe falls back to
     exact percentiles over the filtered rows;
  3. half-open ranges ``[b_i, b_{i+1})`` plus open ends — exhaustive
     and disjoint BY CONSTRUCTION, independent of sample quality
     (a bad sample only unbalances, never loses or duplicates rows).

Boundary values never round-trip through Python typing: Postgres
renders them with ``quote_literal`` server-side, so escaping and
locale/precision fidelity are PG's own, and the predicate comparisons
are evaluated by the SAME server under the same collation that ordered
the boundaries. Values whose literals contain control characters the
psql line-protocol fetch cannot carry are dropped server-side — losing
a boundary only merges two adjacent ranges, it cannot lose rows.

Scale: the probe is O(threshold), the sample is O(pages sampled), and
each resulting predicate is a PK-range scan the source can serve from
the PK index — N concurrent index-range COPY/JDBC streams, the same
shape Sqoop's ``--split-by`` and Spark's own JDBC ``predicates=`` API
assume.
"""

from __future__ import annotations

from collections.abc import Callable

Fetch = Callable[[str], list]

# every code point Python's str.splitlines() treats as a line break
# (the fetch parser's discipline), plus the \x1f field separator —
# a boundary literal containing any of these cannot ride the
# line-oriented psql fetch intact
_LINEBREAK_CODEPOINTS = (10, 11, 12, 13, 28, 29, 30, 31, 133, 8232, 8233)


def _no_linebreak_sql(col: str) -> str:
    return " AND ".join(
        f"strpos({col}, chr({cp})) = 0" for cp in _LINEBREAK_CODEPOINTS
    )

NUMERIC_PG_TYPES = (
    "smallint",
    "integer",
    "bigint",
    "int2",
    "int4",
    "int8",
    "serial",
    "bigserial",
)

# up to this many (filtered) rows a single stream wins: partition setup
# costs one probe + one bounds query + N streams. The measured crossover
# of copy_table at 4 cores, one stream against the split read, is
# plans/r20_copy_split_crossover.md
SMALL_TABLE_ROWS = 10_000
# a sample this small (vs the boundary count) escalates to exact
# percentiles — a SYSTEM page sample on a barely-over-threshold table
# can return too few rows to place N-1 boundaries meaningfully
_MIN_SAMPLE_FACTOR = 32
# SYSTEM sampling is PAGE-level: too few sampled pages means boundaries
# come from a handful of physically-contiguous key clusters and the
# ranges unbalance badly. Aim the sample pct at this many pages, and
# below the exact-threshold just compute exact percentiles — a sort of
# <= ~64 MB at the source is cheaper than a misbalanced 100 GB copy.
_TARGET_SAMPLE_PAGES = 256
_EXACT_BELOW_PAGES = 8192  # 8 KB pages → 64 MB


def pk_leading_column(indexes, columns) -> tuple[str, bool] | None:
    """(leading PK column, is_numeric) — or None when the table has no
    PK at all. Composite PKs partition on the leading column alone:
    ranges need coverage, not uniqueness (duplicated leading values only
    merge boundaries)."""
    pk = next((ix.columns for ix in indexes if ix.primary), ())
    if not pk:
        return None
    col_types = {c.name: c.type for c in columns}
    first = pk[0]
    is_numeric = col_types.get(first, "").lower().startswith(NUMERIC_PG_TYPES)
    return first, is_numeric


def probe_is_small(
    fetch: Fetch, src_quoted: str, where: str | None, threshold: int
) -> bool:
    """Bounded existence probe: does the (filtered) table hold at most
    ``threshold`` rows? Reads at most threshold+1 rows — never a full
    COUNT(*) on a big table."""
    cond = f" WHERE {where}" if where else ""
    n = fetch(
        f"SELECT COUNT(*) FROM (SELECT 1 FROM {src_quoted}{cond}"
        f" LIMIT {int(threshold) + 1}) probe"
    )[0][0]
    return int(n) <= threshold


def numeric_range_predicates(
    fetch: Fetch, src_quoted: str, qcol: str, n: int, where: str | None
) -> list[str] | None:
    """Min/max stride ranges for a numeric partition column (the split
    Spark's own partitionColumn options compute); None when the bounds
    are degenerate (empty table or single value)."""
    cond = f" WHERE {where}" if where else ""
    lo, hi = fetch(f"SELECT MIN({qcol}), MAX({qcol}) FROM {src_quoted}{cond}")[0]
    if lo is None or hi is None or hi <= lo:
        return None
    lo, hi = int(lo), int(hi)
    n = min(n, hi - lo + 1)
    stride = (hi - lo + 1 + n - 1) // n
    preds = []
    for i in range(n):
        a, b = lo + i * stride, lo + (i + 1) * stride
        preds.append(f"{qcol} >= {a} AND {qcol} < {b}")
    return preds


def sampled_range_predicates(
    fetch: Fetch,
    src_quoted: str,
    qcol: str,
    n: int,
    where: str | None,
    sample_pct: float | None = None,
) -> list[str] | None:
    """Equal-frequency range predicates for ANY btree-orderable column:
    N-1 ``percentile_disc`` boundaries off a page sample (exact
    percentiles when the sample is too thin), rendered as safely-quoted
    literals BY POSTGRES (``quote_literal``). Returns None when no
    usable boundary exists (empty/degenerate key) — callers fall back to
    the single stream."""
    if n < 2:
        return None
    fracs = ", ".join(f"{i / n:.6f}" for i in range(1, n))
    cond = f"WHERE {where}" if where else ""

    def boundaries(sample_clause: str) -> tuple[list[str], int]:
        rows = fetch(
            f"WITH s AS (SELECT {qcol} AS v FROM {src_quoted}"
            f" {sample_clause} {cond}),"
            f" b AS (SELECT percentile_disc(ARRAY[{fracs}])"
            f"  WITHIN GROUP (ORDER BY v) AS bs, COUNT(*) AS n FROM s)"
            # drop boundaries whose literal can't ride a line-oriented
            # fetch — merging two ranges is safe, a mangled literal is
            # not. The fetch parses with Python str.splitlines(), which
            # splits on MORE than \n/\r: \x0b \x0c \x1c-\x1e NEL
            # U+2028 U+2029 all break a row too (review fix — the
            # original three-char filter left form-feed-bearing keys
            # able to mangle the predicate), plus the \x1f field sep
            f" SELECT lit, n FROM (SELECT quote_literal(x) AS lit, n"
            f"  FROM b, unnest(b.bs) AS x) q"
            f" WHERE {_no_linebreak_sql('lit')}"
        )
        # belt and braces: re-check with the EXACT Python line discipline
        # the fetch parser uses — anything that would split a fetched row
        # merges two ranges instead of mangling a literal
        lits = [
            str(r[0])
            for r in rows
            if r[0] is not None and len((str(r[0]) + "x").splitlines()) == 1
        ]
        count = int(rows[0][1]) if rows else 0
        return lits, count

    if sample_pct is None:
        # size the page sample from the catalog: SYSTEM sampling is
        # page-level, and too few pages means boundaries drawn from a
        # handful of physically-contiguous key clusters (badly
        # unbalanced ranges). Small/unanalyzed tables (relpages below
        # the exact threshold, or 0) take exact percentiles instead —
        # bounded work, perfectly balanced boundaries.
        relpages = int(
            fetch(
                f"SELECT relpages FROM pg_class"
                f" WHERE oid = '{src_quoted}'::regclass"
            )[0][0]
            or 0
        )
        if relpages < _EXACT_BELOW_PAGES:
            sample_pct = 0.0
        else:
            sample_pct = min(100.0, max(0.01, 100.0 * _TARGET_SAMPLE_PAGES / relpages))
    if sample_pct > 0:
        lits, sample_n = boundaries(f"TABLESAMPLE SYSTEM ({sample_pct})")
    else:
        lits, sample_n = [], 0
    if sample_n < _MIN_SAMPLE_FACTOR * n:
        # exact percentiles: the thin-sample backstop, and the small-
        # table path — the PK index serves the ORDER BY
        lits, _ = boundaries("")
    # dedupe while preserving sorted order: heavily-duplicated keys
    # collapse boundaries, leaving fewer (still exhaustive) partitions
    uniq: list[str] = []
    for lit in lits:
        if not uniq or lit != uniq[-1]:
            uniq.append(lit)
    if not uniq:
        return None
    preds = [f"{qcol} < {uniq[0]}"]
    for a, b in zip(uniq, uniq[1:]):
        preds.append(f"{qcol} >= {a} AND {qcol} < {b}")
    preds.append(f"{qcol} >= {uniq[-1]}")
    return preds


def partition_predicates(
    fetch: Fetch,
    src_quoted: str,
    qcol: str,
    numeric: bool,
    n: int,
    where: str | None,
    small_rows: int = SMALL_TABLE_ROWS,
) -> list[str] | None:
    """The orchestrated split: small-table probe → numeric stride or
    sampled boundaries. None means read single-stream."""
    if n < 2:
        return None
    if small_rows > 0 and probe_is_small(fetch, src_quoted, where, small_rows):
        return None
    if numeric:
        return numeric_range_predicates(fetch, src_quoted, qcol, n, where)
    return sampled_range_predicates(fetch, src_quoted, qcol, n, where)
