"""Parquet table loaders for the driver's TPC-H-ish testdata.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Scale notes: ``spark.read.parquet`` gives vectorized columnar scans with
predicate pushdown + column pruning for free; at 100 TB the same call reads a
partitioned parquet lake and Catalyst prunes partitions. Nothing here
collects to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables a query may force-broadcast. Broadcast safety is an
# ABSOLUTE size question (executor memory), not size-relative-to-facts:
# region (5 rows) and nation (25) are fixed-cardinality at every sf;
# supplier is the smallest sf-proportional table (10k rows/sf, ~1.4 MB/sf)
# and stays hintable far past the benchmark design point. customer/part/
# orders/lineitem grow linearly with sf and must NEVER carry a forced
# broadcast hint — their joins rely on AQE + autoBroadcastJoinThreshold,
# which broadcasts from measured size and degrades to shuffle safely.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})


# Per-process schema cache for the STATIC testdata tables (r13
# optimization, guide §1.5): every fresh ``spark.read.parquet`` runs a
# 1-task footer-inference job + its driver planning gap, and a bench
# session loads the same immutable tables dozens of times across queries.
# The cache holds SCHEMAS only (metadata, like Spark's own FileStatusCache
# for listings — never data or results) and is populated by one real
# inference per path, so every read resolves to exactly the schema
# inference would have produced.
_SCHEMA_CACHE: dict[str, object] = {}
_NPART_CACHE: dict[tuple[str, str, int], int] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _load_events(spark, path)
    schema = _SCHEMA_CACHE.get(path)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[path] = schema
    return spark.read.schema(schema).parquet(path)


def load_table_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like load_table, but repartitioned to the session's parallelism.

    The testdata tables are single parquet files with one row group, so
    Spark gives them ONE input partition — any compute-heavy per-row
    pipeline (shingling, hashing, Arrow UDFs) would run on one core. A
    round-robin repartition costs one tiny shuffle and unlocks every core.
    On a real lake (many files) the scan is already parallel and this
    becomes a no-op choice; the operators that call this do so because
    their per-row work dominates scan cost at any scale.
    """
    df = load_table(spark, sf_dir, name)
    want = spark.sparkContext.defaultParallelism
    # multi-file layouts (real lakes, tools/make_scale.py) already scan in
    # parallel — skip the shuffle when the scan supplies at least half the
    # target parallelism. The probe (df.rdd conversion → scan partition
    # count) is driver-only but not free — it builds the whole RDD lineage
    # through py4j — and the answer is a pure function of the immutable
    # testdata path, the session's reader config and its parallelism, so
    # cache it per (application, path, want) like the schema above (r14;
    # metadata only, never data). The applicationId keeps a later session
    # with a different reader config from reusing a stale count.
    path = os.path.join(sf_dir, f"{name}.parquet")
    npart_key = (spark.sparkContext.applicationId, path, want)
    nparts = _NPART_CACHE.get(npart_key)
    if nparts is None:
        nparts = df.rdd.getNumPartitions()
        _NPART_CACHE[npart_key] = nparts
    if nparts * 2 >= want:
        return df
    return df.repartition(want)


def _load_events(spark: SparkSession, path: str):
    """events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
    rejects ([PARQUET_TYPE_ILLEGAL]). Read it as raw int64 nanoseconds via the
    legacy conf and convert to a microsecond timestamp (Spark's native
    precision) JVM-side — still a vectorized columnar scan, no Python path.
    """
    from pyspark.sql import functions as F

    try:
        df = spark.read.parquet(path)
    except Exception:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so operators can use spark.sql."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
