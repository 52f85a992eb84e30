"""Copy orchestration: the Spark-native rebuild of the reference's
Transport (lib/pgcp/transport.rb).

The fixed sequence (transport.rb:33-62, O19) is preserved:

  parse names → force_schema → CREATE SCHEMA → create dest table if
  missing → staged copy → build the indexes on the staging table, in
  parallel → atomic hotswap that also names the indexes and attaches the
  primary key; on failure drop the dest table this run created.

The reference replayed the indexes one by one AFTER the swap, so the live
table was briefly unindexed, and a failed replay left it published with
no indexes. Here the swapped-in table carries every index at the commit,
and a failed build leaves the old table published as it was.

What changes is the middle: instead of a single-threaded
``psql COPY | psql COPY`` shell pipe (transport.rb:66-110, O1-O3), rows move
through a partitioned Spark JDBC read → batched JDBC write — per-partition
parallel streams with real failure propagation (the reference's pipe-failure
check was broken: `echo $?` in a fresh subshell, transport.rb:71-74, Q4).

Reference bugs fixed (SURVEY.md §3 quirks):
  Q1 glob listed tables from the DESTINATION — we list from the source.
  Q2 glob passed the options hash as dest_tablename — typed API here.
  Q3 ``skipe_indexes`` typo forced index replay — ``skip_indexes`` works.
  Q4 transfer failures were silently swallowed — exceptions propagate.
  Q5 composite PKs truncated to the first column — kept whole (ddl.py).

Scale: per-table parallelism = numPartitions mutually-exclusive PK-range
predicates on the introspected leading PK column — numeric min/max
strides, or sampled percentile boundaries for text/uuid/any-orderable
keys (pg/partition.py, round 13; previously a non-numeric PK degraded to
one connection). Genuinely small tables keep the single stream (bounded
LIMIT probe). Multi-table glob fan-out runs copies in a thread pool
(each Spark job is independent; the scheduler interleaves them).
"""

from __future__ import annotations

import fnmatch
import logging
import uuid
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any

from pgcp_spark.config import DbConfig
from pgcp_spark.pg import catalog as cat
from pgcp_spark.pg import ddl
from pgcp_spark.pg import partition
from pgcp_spark.pg.client import PgClient
from pgcp_spark.pg.partition import NUMERIC_PG_TYPES  # noqa: F401 (re-export)
from pgcp_spark.qualified_name import QualifiedName, quote_ident

logger = logging.getLogger("pgcp_spark")

DEFAULT_NUM_PARTITIONS = 16
DEFAULT_FETCH_SIZE = 10_000
DEFAULT_BATCH_SIZE = 10_000


@dataclass
class CopyOptions:
    force_schema: str | None = None
    create_schema: bool = True  # transport.rb:35 'create_schema' option
    skip_indexes: bool = False  # works here (Q3 fixed)
    num_partitions: int = DEFAULT_NUM_PARTITIONS
    fetch_size: int = DEFAULT_FETCH_SIZE
    batch_size: int = DEFAULT_BATCH_SIZE
    # optional SQL predicate for incremental / partial copies; Catalyst
    # pushes it into the JDBC scan (WHERE reaches the source Postgres)
    where: str | None = None
    # below this many (filtered) rows the table reads single-stream —
    # partition setup (probe + boundary sample + N connections) would
    # dominate. Probed with a bounded LIMIT, never a full COUNT. 0
    # disables the probe (always partition when a PK allows it).
    small_table_rows: int = partition.SMALL_TABLE_ROWS


class Transport:
    """Orchestrates table copies src → dest.

    ``reader``/``writer`` are injectable for testing; defaults build the
    partitioned ``spark.read.jdbc`` / ``df.write.jdbc`` pipeline.
    """

    def __init__(
        self,
        spark: Any,
        src_cfg: DbConfig,
        dest_cfg: DbConfig,
        src_client: PgClient | None = None,
        dest_client: PgClient | None = None,
        reader: Callable[..., Any] | None = None,
        writer: Callable[..., Any] | None = None,
    ):
        from pgcp_spark.pg.client import JvmJdbcClient

        self.spark = spark
        self.src_cfg = src_cfg
        self.dest_cfg = dest_cfg
        self.src_client = src_client or JvmJdbcClient(
            spark, src_cfg.jdbc_url, src_cfg.user, src_cfg.password
        )
        self.dest_client = dest_client or JvmJdbcClient(
            spark, dest_cfg.jdbc_url, dest_cfg.user, dest_cfg.password
        )
        self.reader = reader or self._default_reader
        self.writer = writer or self._default_writer

    # ---------------- public API (O18/O19) ----------------

    def copy_tables(self, src_pattern: str, options: CopyOptions | None = None) -> list[str]:
        """Glob fan-out (transport.rb:20-31, O18): expand ``schema.glob``
        against the SOURCE catalog (Q1 fixed), copy each match. Returns the
        copied table names."""
        options = options or CopyOptions()
        qn = QualifiedName.parse(src_pattern)
        tables = cat.list_tables(self.src_client, qn.schema_name)
        matches = [t for t in tables if fnmatch.fnmatch(t, qn.table_name)]
        logger.info("glob %s matched %d tables: %s", src_pattern, len(matches), matches)
        if options.create_schema and matches:
            # pre-create the dest schema ONCE: concurrent CREATE SCHEMA IF
            # NOT EXISTS from the fan-out threads races inside PG (duplicate
            # pg_namespace key — IF NOT EXISTS is not concurrency-safe)
            dest_schema = options.force_schema or qn.schema_name
            self.dest_client.execute(f"CREATE SCHEMA IF NOT EXISTS {quote_ident(dest_schema)}")
        copied = []
        with ThreadPoolExecutor(max_workers=4) as pool:
            futures = {
                pool.submit(
                    self.copy_table, str(QualifiedName(qn.schema_name, t)), None, options
                ): t
                for t in matches
            }
            for fut, t in futures.items():
                fut.result()  # propagate failures (Q4 fixed)
                copied.append(t)
        return copied

    def copy_table(
        self,
        src_tablename: str,
        dest_tablename: str | None = None,
        options: CopyOptions | None = None,
    ) -> None:
        """Single-table copy (transport.rb:33-62, O19)."""
        options = options or CopyOptions()
        src = QualifiedName.parse(src_tablename)
        dest = QualifiedName.parse(dest_tablename) if dest_tablename else QualifiedName(
            src.schema_name, src.table_name
        )
        if options.force_schema:  # pgcp_runner.rb:13, transport.rb:41
            dest = QualifiedName(options.force_schema, dest.table_name)

        if options.create_schema:  # transport.rb:46 (O14)
            self.dest_client.execute(
                f"CREATE SCHEMA IF NOT EXISTS {quote_ident(dest.schema_name)}"
            )

        # the source catalog is read once per copy, never remembered past
        # it: a later copy sees columns and indexes added or dropped since
        columns = cat.column_definitions(self.src_client, src.schema_name, src.table_name)
        indexes = [] if options.skip_indexes else cat.get_indexes(  # Q3 fixed
            self.src_client, src.schema_name, src.table_name
        )
        created_dest = self._create_dest_table(columns, dest)
        try:
            # transport.rb:128-143 (O9)
            df = self.reader(src, options)
            # PG index names are schema-scoped: copying a table under a
            # NEW name into a schema that already holds a copy of the
            # original would publish the same index name twice — prefix
            # with the dest table name to keep them collision-free
            prefix = f"{dest.table_name}_" if dest.table_name != src.table_name else None
            self._staged_write(df, dest, options, columns, indexes, prefix)
        except Exception:
            # transport.rb:57-61 semantics — clean up the table we created —
            # but propagate the error instead of swallowing it (Q4 fixed)
            if created_dest:
                self.drop_table(dest)
            raise

    # ---------------- library API (O13, O15, O16) ----------------

    def drop_table(self, table: QualifiedName) -> None:
        """postgres.rb:38-50 (O13)."""
        self.dest_client.execute(f"DROP TABLE IF EXISTS {table.quoted}")

    def create_table_from_query(self, query: str, dest_tablename: str) -> None:
        """CTAS seam (postgres.rb:80-91, O15): the reference pushed the SQL
        into PostgreSQL; here Spark executes it (spark.sql over whatever
        views/sources are registered) and the result is staged + hotswapped
        into the destination — the analytics layer plugs in at this seam."""
        dest = QualifiedName.parse(dest_tablename)
        df = self.spark.sql(query)
        self._staged_write(df, dest, CopyOptions())

    def copy_from_csv(
        self, csv_path: str, dest_tablename: str, header: bool = True
    ) -> None:
        """CSV ingest (postgres.rb:122-135, O16): spark.read.csv (schema
        inference, parallel multi-file read — vs the reference's 256-byte
        chunk loop) into the same staged write path."""
        dest = QualifiedName.parse(dest_tablename)
        df = self.spark.read.csv(csv_path, header=header, inferSchema=True)
        self._staged_write(df, dest, CopyOptions())

    def copy_from_jsonl(self, json_path: str, dest_tablename: str) -> None:
        """JSON-lines ingest: the format the reference's CSV path (O16)
        would grow into for semi-structured sources. spark.read.json infers
        the schema across all files in parallel; same staged write path."""
        dest = QualifiedName.parse(dest_tablename)
        df = self.spark.read.json(json_path)
        self._staged_write(df, dest, CopyOptions())

    def copy_from_parquet(self, parquet_path: str, dest_tablename: str) -> None:
        """Columnar ingest (parquet): schema comes from file metadata (no
        inference pass), scans are vectorized and column-pruned — the
        preferred lake→warehouse path; same staged write as O16."""
        dest = QualifiedName.parse(dest_tablename)
        df = self.spark.read.parquet(parquet_path)
        self._staged_write(df, dest, CopyOptions())

    def copy_from_orc(self, orc_path: str, dest_tablename: str) -> None:
        """Columnar ingest (ORC): Spark reads ORC natively with the same
        vectorized/pruned scan properties as parquet; same staged write."""
        dest = QualifiedName.parse(dest_tablename)
        df = self.spark.read.orc(orc_path)
        self._staged_write(df, dest, CopyOptions())

    # ---------------- internals ----------------

    def _create_dest_table(self, columns: list[cat.ColumnDef], dest: QualifiedName) -> bool:
        """transport.rb:112-126: exact-type DDL from the source columns on
        dest if missing. Returns True if this run created the table."""
        if cat.table_exists(self.dest_client, dest.schema_name, dest.table_name):
            return False
        self.dest_client.execute(ddl.create_table_statement(columns, dest))
        return True

    def _staged_write(
        self,
        df: Any,
        dest: QualifiedName,
        options: CopyOptions,
        columns: list[cat.ColumnDef] | None = None,
        indexes: Sequence[cat.IndexDef] = (),
        rename_prefix: str | None = None,
    ) -> None:
        """Load ``df`` into a staging table, build ``indexes`` on it
        concurrently, and swap it in under ``dest``'s name. The staging
        table, with whatever indexes it got, is dropped on every failure
        path, and ``dest`` is then left as it was."""
        staging_name = f"temp_{uuid.uuid4().hex}"  # transport.rb:129-136
        staging = QualifiedName(dest.schema_name, staging_name)
        if columns is not None:
            # exact PG types from the source catalog
            self.dest_client.execute(ddl.create_table_statement(columns, staging))
        else:
            # Spark-schema-derived staging table (CTAS / CSV path)
            self.dest_client.execute(_spark_schema_ddl(df, staging))
        builds, attaches = ddl.create_index_statements(
            staging, dest.table_name, indexes, rename_prefix
        )
        try:
            self.writer(df, staging, options)
            if builds:
                # one session per index (pgcopydb's --index-jobs); leaving
                # the pool waits for every build, failed or not, so the
                # DROP below never races one
                with ThreadPoolExecutor(max_workers=len(builds)) as pool:
                    list(pool.map(self.dest_client.execute, builds))
            self.dest_client.execute_transaction(
                ddl.hotswap_statements(dest.schema_name, staging_name, dest.table_name)
                + attaches
            )  # postgres.rb:93-106 (O8)
        finally:
            # transport.rb:141-142 — orphan cleanup; no-op after a
            # successful rename
            self.dest_client.execute(f"DROP TABLE IF EXISTS {staging.quoted}")

    def _default_reader(self, src: QualifiedName, options: CopyOptions):
        """Partitioned JDBC scan (O1): N mutually-exclusive PK-range
        predicates — numeric min/max strides, or sampled percentile
        boundaries for text/uuid/any-orderable PKs (round 13: a uuid-PK
        table used to degrade to ONE connection, the reference's
        single-pipe bottleneck, transport.rb:89-110). Genuinely small
        tables (bounded LIMIT probe) keep the single stream."""
        preds = self._partition_predicates(src, options)
        if preds and len(preds) > 1:
            props = dict(self.src_cfg.jdbc_properties)
            props["fetchsize"] = str(options.fetch_size)
            df = self.spark.read.jdbc(
                self.src_cfg.jdbc_url, src.quoted, predicates=preds, properties=props
            )
        else:
            reader = (
                self.spark.read.format("jdbc")
                .option("url", self.src_cfg.jdbc_url)
                .option("dbtable", src.quoted)
                .option("fetchsize", str(options.fetch_size))
            )
            for k, v in self.src_cfg.jdbc_properties.items():
                reader = reader.option(k, v)
            df = reader.load()
        if options.where:
            # filter() on a JDBC relation pushes down (pushDownPredicate
            # defaults true), so the predicate executes source-side
            df = df.filter(options.where)
        return df

    def _default_writer(self, df: Any, staging: QualifiedName, options: CopyOptions) -> None:
        """Batched JDBC append into the pre-created staging table (O2) —
        exact PG types are preserved because we never let Spark create the
        table."""
        writer = (
            df.write.format("jdbc")
            .option("url", self.dest_cfg.jdbc_url)
            .option("dbtable", staging.quoted)
            .option("batchsize", str(options.batch_size))
            .mode("append")
        )
        for k, v in self.dest_cfg.jdbc_properties.items():
            writer = writer.option(k, v)
        writer.save()

    def _partition_predicates(self, src: QualifiedName, options: CopyOptions) -> list[str] | None:
        """N parallel-read predicates over the leading PK column, or None
        for single-stream (no PK / small table / degenerate key). The
        boundary queries run against the SOURCE, and the predicates are
        evaluated there too — same server, same collation."""
        part = partition.pk_leading_column(
            cat.get_indexes(self.src_client, src.schema_name, src.table_name),
            cat.column_definitions(self.src_client, src.schema_name, src.table_name),
        )
        if part is None:
            return None
        col, is_numeric = part
        return partition.partition_predicates(
            self.src_client.fetch,
            src.quoted,
            quote_ident(col),
            is_numeric,
            options.num_partitions,
            options.where,
            options.small_table_rows,
        )


def _spark_schema_ddl(df: Any, dest: QualifiedName) -> str:
    """Map a Spark schema to PG column types for CTAS/CSV staging tables."""
    from pgcp_spark.pg.catalog import ColumnDef

    mapping = {
        "string": "TEXT",
        "int": "INTEGER",
        "bigint": "BIGINT",
        "smallint": "SMALLINT",
        "double": "DOUBLE PRECISION",
        "float": "REAL",
        "boolean": "BOOLEAN",
        "date": "DATE",
        "timestamp": "TIMESTAMP",
        "binary": "BYTEA",
    }
    cols = []
    for f in df.schema.fields:
        simple = f.dataType.simpleString()
        if simple.startswith("decimal"):
            pg_type = simple.replace("decimal", "NUMERIC")
        elif simple.startswith("array<") and simple.endswith(">"):
            inner = mapping.get(simple[6:-1], "TEXT")
            pg_type = f"{inner}[]"
        else:
            pg_type = mapping.get(simple, "TEXT")
        cols.append(ColumnDef(name=f.name, type=pg_type, nullable=f.nullable))
    return ddl.create_table_statement(cols, dest)
