"""Data-quality expectations on lake writes (round 10).

The pipeline gate every production ingest runs before a batch becomes
queryable (Delta Live Tables expectations / Great Expectations /
dbt tests, reduced to this layer's minimum): declare per-row rules with
an enforcement action, and a guarded write splits the batch —

    warn        violations counted, rows still committed
    drop        violations quarantined to a side lake table, rest commits
    fail        ANY violation aborts the write (nothing commits)

A rule is VIOLATED when its predicate is not TRUE — false *or NULL*,
the expectations convention (``expect value > 0`` must fail a NULL
value; a bare ``filter`` would silently pass it). Violation metrics are
returned per rule so a pipeline can alert on drift without scanning the
quarantine.

Everything is one pass over the batch: the rule columns are plain Spark
expressions evaluated row-local (no shuffle), the split is two filters
off one materialized frame, and the quarantine row carries WHICH rules
fired (an array column) so triage never re-derives it. At 100 TB the
gate costs the batch scan it was already paying.

Reference anchor: none — the reference trusts PostgreSQL constraints;
this is the lake-side replacement for the constraint checking a
database did (SURVEY §1.2: nullability was the one constraint pgcp
carried).
"""

from __future__ import annotations

import shutil
import tempfile
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pgcp_spark.indexes.loop import reclaim_by_mode
from pgcp_spark.plans.materialize import materialize
from pgcp_spark.registry import register
from pgcp_spark.sources import load_table
from pgcp_spark.sources.lake import read_current, write_snapshot

VALID_ACTIONS = ("warn", "drop", "fail")


@dataclass(frozen=True)
class Expectation:
    name: str
    predicate: Column  # rule HOLDS when this is TRUE; false/NULL violate
    action: str = "drop"

    def __post_init__(self):
        if self.action not in VALID_ACTIONS:
            raise ValueError(f"action must be one of {VALID_ACTIONS}: {self.action}")


class ExpectationFailed(RuntimeError):
    """A fail-action rule had violations — the batch was NOT committed."""


def apply_expectations(
    batch: DataFrame, rules: list[Expectation]
) -> tuple[DataFrame, DataFrame, dict[str, int]]:
    """Split ``batch`` into (passing, quarantined, metrics).

    passing     rows where every drop/fail rule holds (warn rules never
                remove a row);
    quarantined rows failing ≥1 drop/fail rule, with a ``_violations``
                array naming every violated rule (warn included — triage
                sees the full picture);
    metrics     per-rule violation counts over the WHOLE batch.

    One pass: rule flags are row-local expressions; the batch is
    materialized once and filtered twice.
    """
    names = [r.name for r in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names: {names}")
    flagged = batch
    for r in rules:
        # violated == predicate IS NOT TRUE (false or NULL)
        flagged = flagged.withColumn(
            f"_viol_{r.name}", ~r.predicate.eqNullSafe(F.lit(True))
        )
    flagged = materialize(flagged)
    metrics = {
        r.name: row_cnt
        for r, row_cnt in zip(
            rules,
            flagged.agg(
                *[
                    F.coalesce(
                        F.sum(F.col(f"_viol_{r.name}").cast("int")), F.lit(0)
                    ).alias(r.name)
                    for r in rules
                ]
            ).collect()[0],
        )
    }
    removing = [r for r in rules if r.action in ("drop", "fail")]
    viol_any = F.lit(False)
    for r in removing:
        viol_any = viol_any | F.col(f"_viol_{r.name}")
    viol_list = F.array_compact(
        F.array(
            *[
                F.when(F.col(f"_viol_{r.name}"), F.lit(r.name))
                for r in rules
            ]
        )
    )
    drop_cols = [f"_viol_{r.name}" for r in rules]
    passing = flagged.filter(~viol_any).drop(*drop_cols)
    quarantined = (
        flagged.filter(viol_any)
        .withColumn("_violations", viol_list)
        .drop(*drop_cols)
    )
    return passing, quarantined, metrics


def write_with_expectations(
    spark: SparkSession,
    batch: DataFrame,
    table_dir: str,
    rules: list[Expectation],
    quarantine_dir: str | None = None,
) -> dict[str, int]:
    """Guarded lake write: apply the rules, abort on any fail-action
    violation (nothing commits — the gate is before the pointer, so
    readers never see a bad batch), commit passing rows, and commit
    quarantined rows (with their ``_violations``) to the side table.
    Returns the per-rule metrics.

    Commit ORDER is load-bearing: the quarantine snapshot lands FIRST.
    The two writes are independent pointer swaps, so a crash between
    them must leave the gate's invariant recoverable — with quarantine
    first, a crash strands an orphaned quarantine commit whose main
    batch never published (cheap: the batch replays, the next quarantine
    commit supersedes it), whereas main-first would publish the batch
    and silently LOSE its violating rows and their ``_violations``
    triage data, breaking main/quarantine complementarity with nothing
    left to reconstruct it from."""
    passing, quarantined, metrics = apply_expectations(batch, rules)
    failed = [
        r.name for r in rules if r.action == "fail" and metrics[r.name] > 0
    ]
    if failed:
        raise ExpectationFailed(
            f"fail-action rule(s) violated, batch not committed: "
            f"{ {n: metrics[n] for n in failed} }"
        )
    if quarantine_dir is not None:
        write_snapshot(quarantined, quarantine_dir)
    write_snapshot(passing, table_dir)
    return metrics


_EXPECT_ORACLE = """
WITH flags AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,
         NOT COALESCE(o_totalprice > 20000.0, FALSE) AS v_min_price,
         NOT COALESCE(o_custkey IS NOT NULL, FALSE) AS v_has_customer,
         NOT COALESCE(o_orderpriority LIKE '%-%', FALSE) AS v_priority_format
  FROM orders WHERE o_orderkey % 3 = 0
)
SELECT o_orderkey, o_custkey, o_totalprice,
       CAST(v_min_price AS BOOLEAN) AS v_min_price,
       CAST(v_has_customer AS BOOLEAN) AS v_has_customer,
       CAST(v_priority_format AS BOOLEAN) AS v_priority_format
FROM flags
WHERE v_min_price OR v_has_customer
ORDER BY o_orderkey
"""


@register(
    "lake_expectations_quarantine_orders",
    oracle=_EXPECT_ORACLE,
    doc=(
        "data-quality expectations on a lake write: drop-action rules quarantine "
        "violating rows to a side table (violated-when-not-TRUE null semantics), "
        "warn rules only count, committed table = passing rows — the quarantine "
        "is hash-checked against the rules recomputed in SQL"
    ),
)
def lake_expectations_quarantine_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end expectations gate on driver-checkable data: the %3
    slice of orders writes through three rules — ``o_totalprice > 20000``
    (drop; also fails NULL prices, the not-TRUE convention),
    ``o_custkey IS NOT NULL`` (drop), and a warn-only priority format
    check that never removes rows. The returned frame is the QUARANTINE
    table re-read from the lake, with the ``_violations`` array unpacked
    into per-rule booleans so the oracle can recompute them relationally
    (DuckDB has no array-of-names equivalent under the driver hash's
    column sort). Committed-table complementarity and metrics are pinned
    in tests/test_quality.py."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    batch = orders.filter(F.col("o_orderkey") % 3 == 0)
    rules = [
        Expectation("min_price", F.col("o_totalprice") > 20000.0, "drop"),
        Expectation("has_customer", F.col("o_custkey").isNotNull(), "drop"),
        Expectation("priority_format", F.col("o_orderpriority").like("%-%"), "warn"),
    ]
    tdir = tempfile.mkdtemp(prefix="pgcp_expect_main_")
    qdir = tempfile.mkdtemp(prefix="pgcp_expect_quar_")
    try:
        write_with_expectations(spark, batch, tdir, rules, quarantine_dir=qdir)
        quar = read_current(spark, qdir)
        result = materialize(
            quar.select(
                "o_orderkey",
                "o_custkey",
                "o_totalprice",
                F.array_contains("_violations", "min_price").alias("v_min_price"),
                F.array_contains("_violations", "has_customer").alias(
                    "v_has_customer"
                ),
                F.array_contains("_violations", "priority_format").alias(
                    "v_priority_format"
                ),
            ).orderBy("o_orderkey")
        )
    except BaseException:
        shutil.rmtree(tdir, ignore_errors=True)
        shutil.rmtree(qdir, ignore_errors=True)
        raise
    reclaim_by_mode(tdir, qdir)
    return result
