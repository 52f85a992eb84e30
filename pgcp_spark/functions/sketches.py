"""Pre-aggregated distinct-count sketches (HyperLogLog) over ``events``.

The canonical 100 TB pre-aggregation pattern: you cannot re-scan a
petabyte fact table for every "distinct users last N days?" question, so
the pipeline maintains a tiny table of PARTIAL sketches — one
(event_type, day) row holding an HLL sketch of that day's users — and
answers any date-range rollup by merging stored sketches, never touching
the fact again. HLL union is associative/commutative and loss-free at a
fixed lgConfigK, so merge-of-parts answers the same question as
sketch-of-whole; the fact table is read exactly once per day, at ingest.

Spark-first: ``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate`` are built-in JVM declarative aggregates (Apache
DataSketches HLL under the hood) with map-side partial aggregation —
each executor sketches its own partition and only sketch bytes
(≤ ~2^lgK nibbles) cross the shuffle, never user ids. No DuckDB twin
exists (different HLL implementation), so the registered rollup is
rows-only by design — the same contract as ``agg_approx_distinct`` —
with accuracy floors vs exact distinct counts and merge-vs-direct
equality pinned in ``tests/test_sketches.py``.

Reference anchor: none — the reference engine has no sketch surface;
this is north-star pre-aggregation territory (SURVEY.md §2b hypertable
rollup is the exact-aggregate sibling: ``rollup_cascade_events_daily``
re-aggregates decomposable SUM/COUNT the same way this merges HLL).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgcp_spark.plans.materialize import materialize
from pgcp_spark.registry import register
from pgcp_spark.sources import lake
from pgcp_spark.sources.tables import load_table

# 2^12 registers → ~1.6 % relative standard error in the dense regime;
# exact (sparse list mode) below a few hundred distincts per sketch.
SKETCH_LGK = 12


def daily_user_sketches(events: DataFrame, lgk: int = SKETCH_LGK) -> DataFrame:
    """(event_type, day) → HLL sketch of that slice's user_ids + exact row
    count. One shuffle on the tiny composite key; partial sketches are
    built map-side so only sketch bytes move."""
    return events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.hll_sketch_agg("user_id", F.lit(lgk)).alias("sk"),
        F.count("*").alias("n_rows"),
    )


def merge_sketches(daily: DataFrame) -> DataFrame:
    """Merge per-day sketches to one estimate per event_type. Input is
    |types|×|days| rows regardless of fact size — this aggregation is
    free at any scale."""
    return daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(False))).alias("est_users"),
        F.count("*").alias("n_days"),
        F.sum("n_rows").alias("n_events"),
    )


@register(
    "agg_hll_daily_distinct_rollup",
    oracle=None,  # rows-only by design: DataSketches HLL has no DuckDB
    # twin (DuckDB's approx_count_distinct is a different HLL with
    # different estimates). Value evidence: tests/test_sketches.py pins
    # merge-of-parts == sketch-of-whole, exactness in the sparse regime,
    # and a ≤5 % error floor at 20k distincts in the dense regime.
)
def agg_hll_daily_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event_type, answered by building per-day HLL
    sketches and MERGING them — the pre-aggregated form of
    COUNT(DISTINCT). Demonstrates the two-level sketch pipeline end to
    end: fact → daily partials → union rollup.
    """
    daily = daily_user_sketches(load_table(spark, sf_dir, "events"))
    return (
        merge_sketches(daily)
        .select("event_type", "est_users", "n_days", "n_events")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Lake-persisted sketch table: the production daily loop
# ---------------------------------------------------------------------------
#
# build → (daily) update_sketch_table folds one new day via MERGE →
# distinct_users_from_sketches answers any date-range question from the
# stored partials with day-range file skipping (the table is CLUSTER BY
# day), zero fact access. Same artifact-reuse shape as the dedup
# signature index (functions/dedup_index.py) and the IVF ANN index
# (functions/ann_index.py) — sketches are the third persisted index
# family: pre-aggregation.


def build_sketch_table(
    spark: SparkSession,
    sf_dir: str,
    table_dir: str,
    lgk: int = SKETCH_LGK,
    upto_day=None,
) -> str:
    """Sketch the fact table (optionally only days ≤ ``upto_day``) and
    commit the partials as a lake snapshot clustered by day."""
    events = load_table(spark, sf_dir, "events")
    if upto_day is not None:
        events = events.filter(F.to_date("ts") <= F.lit(upto_day))
    return lake.write_snapshot(
        daily_user_sketches(events, lgk), table_dir, cluster_by=["day"]
    )


def update_sketch_table(spark: SparkSession, sf_dir: str, table_dir: str, day) -> str:
    """Fold ONE day into the stored sketch table (the daily ingest step):
    sketch only that day's fact slice and land it as an APPENDED DELTA
    keyed (event_type, day) — round 9's O(batch) fold model, shared by
    all four index families; a replayed day's newest delta row shadows
    the previous identical one through the merge-on-read reader. The
    rest of the fact is never read — incremental by construction."""
    events = load_table(spark, sf_dir, "events").filter(F.to_date("ts") == F.lit(day))
    batch = daily_user_sketches(events)
    return lake.append_delta(batch, table_dir, cluster_by=["day"])


def distinct_users_from_sketches(
    spark: SparkSession, table_dir: str, day_from=None, day_to=None
) -> DataFrame:
    """Answer "distinct users per event_type over [day_from, day_to]"
    from the STORED partials: filter the day range (min/max file skipping
    via the CLUSTER BY day layout — each fold delta is day-clustered too,
    so the pushed filter prunes inside deltas the same way), merge. The
    events table is read zero times."""
    daily = lake.read_current_with_deltas(spark, table_dir, key=["event_type", "day"])
    if day_from is not None:
        daily = daily.filter(F.col("day") >= F.lit(day_from))
    if day_to is not None:
        daily = daily.filter(F.col("day") <= F.lit(day_to))
    return (
        merge_sketches(daily)
        .select("event_type", "est_users", "n_days", "n_events")
        .orderBy("event_type")
    )


def fold_sketch_batch(spark: SparkSession, batch: DataFrame, table_dir: str) -> str:
    """Fold ONE micro-batch of events into the stored sketch table.

    The staging contract (``_stage_event_day_files``) delivers whole days
    per file, and the file source never splits a file across micro-batches
    — so every (event_type, day) partial a batch produces is COMPLETE, and
    the MERGE can replace rather than union. That makes replay convergent:
    foreachBatch is at-least-once, and re-sketching the same full day
    yields a bit-identical row whose newest-delta copy shadows the first
    (pinned in tests/test_sketches.py::test_streaming_replay_idempotent).
    Since round 9 the fold is an appended delta (O(batch)) rather than a
    keyed copy-on-write MERGE — the shared fold model of all four index
    families; deltas merge into the base on the retention/compaction
    cadence."""
    partials = daily_user_sketches(batch)
    if lake.current_snapshot(table_dir) is None:
        return lake.write_snapshot(partials, table_dir, cluster_by=["day"])
    return lake.append_delta(partials, table_dir, cluster_by=["day"])


def _stage_event_day_files(events: DataFrame) -> str:
    """Stage events as one parquet file per day via the shared harness
    (fixed increasing mtimes → the file stream source delivers days
    oldest-first, and a micro-batch is always a union of WHOLE days —
    files are the source's atomic unit)."""
    from pgcp_spark.indexes import loop

    days = sorted(
        r["day"]
        for r in events.select(F.to_date("ts").alias("day")).distinct().collect()
        if r["day"] is not None
    )
    return loop.stage_group_files(
        events,
        F.to_date("ts"),
        days,
        "pgcp_sketch_stream_",
        file_stem="day",
        materialize_input=False,
    )


def run_streaming_sketch_maintenance(
    spark: SparkSession,
    sf_dir: str,
    table_dir: str,
    max_files_per_trigger: int | None = 1,
) -> None:
    """The streaming form of the daily loop: events arrive as a stream of
    per-day files; each micro-batch's complete-day partials MERGE into the
    lake sketch table via ``fold_sketch_batch``. After the stream drains,
    the table answers range rollups exactly like a batch-built one
    (boundary invariance pinned in tests/test_sketches.py).

    ``max_files_per_trigger=None`` lets availableNow swallow every day in
    one micro-batch; 1 replays the production day-at-a-time cadence.
    """
    import shutil

    from pgcp_spark.indexes import loop

    events = load_table(spark, sf_dir, "events")
    staging = _stage_event_day_files(events)
    try:
        if not any(f.endswith(".parquet") for f in os.listdir(staging)):
            return  # zero-day slice: nothing to stream, nothing to commit
        schema = spark.read.parquet(os.path.join(staging, "day_0.parquet")).schema
        loop.run_availablenow_stream(
            spark,
            staging,
            schema,
            lambda batch, _bid: fold_sketch_batch(spark, batch, table_dir),
            max_files_per_trigger,
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def retire_sketch_days(spark: SparkSession, table_dir: str, before_day) -> str:
    """Retention on the sketch table: drop every partial with
    ``day < before_day`` — one predicate ``lake.delete`` over the
    CLUSTER BY day layout (the filter prunes by the same file min/max
    stats the range queries use), committed through the pointer swap.
    This is the honest retention surface for count-distinct sketches:
    HLL union is NOT invertible, so per-user deletion cannot subtract
    from a stored partial — the day-grain partial IS the deletion
    boundary. For a user-level delete inside a retained day, re-sketch
    that day from the already-filtered fact and MERGE it through
    ``fold_sketch_batch`` (complete-day replacement — the same
    replace-not-union contract the streaming loop relies on); pinned in
    tests/test_sketches.py. Pending fold deltas flatten into the base
    first — retention must erase every physical trace, including
    partials still in un-merged deltas.

    Deliberately NOT a tombstone delta (round-10 note): the other three
    families' removes moved to O(keys) ``lake.delete_delta`` because
    their deletes are ad-hoc key lists against corpus-sized tables;
    this one is a RANGE predicate, runs ON the retention cadence (where
    the flatten is already due), and rewrites a day-partials-sized
    table — thousands of rows at any corpus size, since the partial IS
    the day×event_type aggregate. A day-list tombstone would save a
    rewrite that costs less than the day-list scan needed to build it."""
    lake.flatten_deltas(
        spark, table_dir, key=["event_type", "day"], cluster_by=["day"]
    )
    return lake.delete(
        spark,
        table_dir,
        predicate=F.col("day") < F.lit(before_day),
        cluster_by=["day"],
    )


def _sketch_table_files(table_dir: str) -> list[str]:
    snap = lake.current_snapshot(table_dir)
    assert snap is not None
    snap_dir = os.path.join(table_dir, snap)
    return [
        os.path.join(root, f)
        for root, _, files in os.walk(snap_dir)
        for f in files
        if f.endswith(".parquet")
    ]


# --- count-min frequency sketch + heavy hitters (round 10) ----------------
# The frequency-sketch sibling of the HLL family: a d×w counter grid where
# every key increments one counter per hash row and a point estimate reads
# the MINIMUM of its d counters — never an underestimate (all error is
# +collision mass), the Cormode/Muthukrishnan 2005 guarantee. Unlike HLL,
# the whole sketch is expressible as RELATIONAL integer arithmetic on a
# cross-engine hash (md5 hex slices), so the approximate structure has an
# exact DuckDB twin and the registered query is HASH-GREEN — deterministic
# approximation, bit-for-bit reproducible.
CMS_D = 4  # hash rows: 4 disjoint 32-bit slices of one md5
CMS_W = 512  # buckets per row — sized so collisions are LIVE on the test
# corpus (916 bigram types → ~1.8/bucket) and the one-sided error is
# visible in the output instead of vacuously zero
HH_DENOM = 1000  # φ-heavy-hitter threshold: count > total/1000


def _cms_bucket(col, j: int):
    """Row-j bucket: 8 hex chars of md5 at offset 8j, as int, mod w.
    Identical in DuckDB as ('0x' || substr(md5(k), 1+8j, 8))::BIGINT % w."""
    return (
        F.conv(F.substring(F.md5(col), 1 + 8 * j, 8), 16, 10).cast("long")
        % CMS_W
    )


@register(
    "agg_cms_bigram_heavy_hitters",
    oracle=f"""
WITH toks AS (
  SELECT source,
         string_split(trim(regexp_replace(lower(text), ' +', ' ', 'g')), ' ') AS t
  FROM documents
),
bi AS (
  SELECT source, t[i.i] || ' ' || t[i.i + 1] AS b
  FROM toks, UNNEST(range(1, len(t))) AS i(i)
),
partials AS (
  SELECT source, j.j AS j,
         (('0x' || substr(md5(b), 1 + 8 * j.j, 8))::BIGINT) % {CMS_W} AS bucket,
         COUNT(*) AS cnt
  FROM bi, UNNEST(range(0, {CMS_D})) AS j(j)
  GROUP BY 1, 2, 3
),
merged AS (SELECT j, bucket, SUM(cnt) AS cnt FROM partials GROUP BY 1, 2),
cand AS (SELECT b, COUNT(*) AS true_cnt FROM bi GROUP BY 1),
total AS (SELECT SUM(true_cnt) AS n FROM cand),
probes AS (
  SELECT c.b, c.true_cnt, j.j AS j,
         (('0x' || substr(md5(c.b), 1 + 8 * j.j, 8))::BIGINT) % {CMS_W} AS bucket
  FROM cand c, UNNEST(range(0, {CMS_D})) AS j(j)
),
est AS (
  SELECT p.b, p.true_cnt, MIN(m.cnt) AS est_cnt
  FROM probes p JOIN merged m ON m.j = p.j AND m.bucket = p.bucket
  GROUP BY 1, 2
)
SELECT e.b AS bigram, CAST(e.true_cnt AS BIGINT) AS true_cnt,
       CAST(e.est_cnt AS BIGINT) AS est_cnt
FROM est e CROSS JOIN total t
WHERE e.est_cnt > t.n / {HH_DENOM}.0
ORDER BY e.b
""",
)
def agg_cms_bigram_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """φ-heavy hitters over the corpus bigram stream via a count-min
    sketch: per-SOURCE partial sketches (the mergeable-rollup shape —
    day/source/partition partials sum into the global sketch exactly, the
    HLL family's merge contract with plain integer addition) are merged,
    then every candidate key reads min-of-d counters and keys whose
    ESTIMATE clears total/{HH_DENOM} are emitted with both counts. The
    one-sided guarantee is visible in the result itself: est_cnt ≥
    true_cnt on every row, every true heavy hitter is present (recall 1
    by construction — estimates never shrink), and borderline keys
    inflated past the threshold by collision mass appear as
    (true < threshold < est) rows — the measured false-positive band.

    Candidates here are the distinct bigrams (vocabulary-sized — far
    smaller than the stream); at 100 TB candidates come from per-partition
    top-k or a sample, and the sketch answers them without any exact
    per-key count table. The sketch itself is {CMS_D}×{CMS_W} rows
    regardless of corpus size; merging partials is a sum keyed on
    (row, bucket); the estimate join broadcasts the sketch. Map-side
    partial aggregation collapses the ×{CMS_D} probe fan-out before the
    shuffle. true_cnt in the output is the demo's yardstick, not part of
    the production read path.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.regexp_replace(F.lower("text"), " +", " ")), " ")
    t = d.select("source", toks.alias("t"))
    bi = t.select(
        "source",
        F.explode(
            F.arrays_zip(
                F.expr("slice(t, 1, size(t) - 1)").alias("x"),
                F.expr("slice(t, 2, size(t) - 1)").alias("y"),
            )
        ).alias("p"),
    ).select(
        "source", F.concat_ws(" ", F.col("p.x"), F.col("p.y")).alias("b")
    ).transform(materialize)  # feeds the sketch build AND the candidate counts
    probe_rows = F.array(
        *[
            F.struct(F.lit(j).alias("j"), _cms_bucket(F.col("b"), j).alias("bucket"))
            for j in range(CMS_D)
        ]
    )
    partials = (
        bi.select("source", F.explode(probe_rows).alias("r"))
        .groupBy("source", F.col("r.j").alias("j"), F.col("r.bucket").alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )
    merged = partials.groupBy("j", "bucket").agg(F.sum("cnt").alias("cnt"))
    cand = bi.groupBy("b").agg(F.count("*").alias("true_cnt"))
    total = cand.agg(F.sum("true_cnt").alias("n"))
    probes = cand.select(
        "b", "true_cnt", F.explode(probe_rows).alias("r")
    ).select("b", "true_cnt", F.col("r.j").alias("j"), F.col("r.bucket").alias("bucket"))
    est = (
        probes.join(merged, ["j", "bucket"])
        .groupBy("b", "true_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    return (
        est.crossJoin(F.broadcast(total))
        .filter(F.col("est_cnt") > F.col("n") / HH_DENOM)
        .select(
            F.col("b").alias("bigram"),
            F.col("true_cnt").cast("long").alias("true_cnt"),
            F.col("est_cnt").cast("long").alias("est_cnt"),
        )
        .orderBy("bigram")
    )


# --- mergeable-histogram quantile rollup (round 10) ------------------------
# The QUANTILE sibling of the HLL (distinct) and count-min (frequency)
# families: per-(event_type, day, bin) fixed-width histogram partials are
# the persisted rollup state; merging = integer addition (exact, like
# count-min — no sketch tolerance); any quantile over any day range is
# answered from the merged histogram by cumulative counts + linear
# interpolation inside the target bin, with error bounded by the bin
# width. approx_percentile answers one-shot queries but its state is not
# a storable/mergeable table — this is the pre-aggregated form a 100 TB
# metrics pipeline actually keeps.
HIST_BIN_W = 4.0  # ~123 bins over the events.value range; error ≤ 4
HIST_QS = (0.5, 0.9, 0.99)


@register(
    "agg_histogram_quantile_rollup",
    oracle=f"""
WITH h AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(FLOOR(value / {HIST_BIN_W}) AS BIGINT) AS bin, COUNT(*) AS c
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2, 3
),
m AS (SELECT event_type, bin, SUM(c) AS cnt FROM h GROUP BY 1, 2),
tot AS (SELECT event_type, SUM(cnt) AS n FROM m GROUP BY 1),
cum AS (
  SELECT event_type, bin, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
  FROM m
),
qs AS (SELECT UNNEST([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                      CAST(0.99 AS DOUBLE)]) AS q),
sel AS (
  SELECT c.event_type, q.q, t.n, c.bin, c.cnt, c.cum
  FROM cum c JOIN tot t USING (event_type) CROSS JOIN qs q
  WHERE c.cum - c.cnt < q.q * t.n AND q.q * t.n <= c.cum
)
SELECT event_type, q, CAST(n AS BIGINT) AS n,
       ROUND(bin * {HIST_BIN_W}
             + (q * n - (cum - cnt)) / cnt * {HIST_BIN_W}, 6) AS est_value
FROM sel ORDER BY event_type, q
""",
)
def agg_histogram_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of ``events.value`` per event type, answered from
    MERGED per-day histogram partials instead of the raw values — the
    hypertable-rollup pattern for percentiles. The partial table is
    (event_type, day, bin, count): day-grain, tiny (≤ types × days ×
    bins rows), and mergeable by plain integer addition, so day-range
    re-aggregation never rescans events (the HLL family's contract,
    without its approximation tolerance — the only error here is the
    deterministic bin width, est within {HIST_BIN_W} of the exact
    order statistic, pinned in tests). The quantile read is a cumulative
    window per type (partitioned — bounded partitions, bins per type)
    plus one interpolation expression; identical integer counts feed an
    identical double expression on both engines, rounded at 1e-6.

    NULL values are excluded on both sides (a histogram of known values;
    the nulls lake exercises this). At 100 TB: the fact table is read
    once per day at ingest to fold that day's partial rows; every later
    quantile query touches only the histogram table.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    h = (
        e.groupBy(
            "event_type",
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") / HIST_BIN_W).alias("bin"),
        ).agg(F.count("*").alias("c"))
    )
    m = h.groupBy("event_type", "bin").agg(F.sum("c").alias("cnt"))
    tot = m.groupBy("event_type").agg(F.sum("cnt").alias("n"))
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("bin")
    cum = m.withColumn("cum", F.sum("cnt").over(w))
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(float(q)) for q in HIST_QS])).alias("q")
    )
    target = F.col("q") * F.col("n")
    est = F.round(
        F.col("bin") * HIST_BIN_W
        + (target - (F.col("cum") - F.col("cnt"))) / F.col("cnt") * HIST_BIN_W,
        6,
    )
    return (
        cum.join(tot, "event_type")
        .crossJoin(F.broadcast(qs))
        .filter((F.col("cum") - F.col("cnt") < target) & (target <= F.col("cum")))
        .select(
            "event_type",
            "q",
            F.col("n").cast("long").alias("n"),
            est.alias("est_value"),
        )
        .orderBy("event_type", "q")
    )
