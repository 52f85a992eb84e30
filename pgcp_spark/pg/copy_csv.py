"""COPY-based transfer seams: Postgres ``COPY ... TO/FROM`` ⇄ Spark CSV.

This is the reference's actual transfer mechanism — transport.rb:66-110 is a
single ``psql COPY TO STDOUT | psql COPY FROM STDIN`` pipe — rebuilt as
injectable ``reader``/``writer`` callables for ``Transport`` (transport.py),
used when no PostgreSQL JDBC driver jar is available. Differences from the
reference pipe:

  - PARALLEL: with ANY btree-orderable PK the export fans out into N
    range-predicated ``COPY (SELECT ...)`` streams — numeric min/max
    strides, or sampled percentile boundaries for text/uuid keys
    (pg/partition.py; the same split the JDBC reader computes) — and the
    import runs one ``COPY FROM`` per Spark output part file, both
    through a thread pool. PG happily runs concurrent COPY in both
    directions; the reference moved every row through one pipe.
  - TYPED: the Spark read schema comes from the source catalog
    (pg_catalog.format_type), not CSV inference, so numerics keep
    precision/scale and NULLs stay distinguishable from empty strings via
    an explicit NULL marker.
  - FAILURES PROPAGATE: any psql exit ≠ 0 raises (the reference's pipe
    check was broken — ``echo $?`` in a fresh subshell, transport.rb:71-74).

Scale note: the CSV staging directory is local-filesystem here (local
mode / single node). On a cluster the same design streams per-partition —
``mapPartitions`` opening ``psql COPY FROM STDIN`` per executor — without a
shared directory; the seam (reader/writer callables) stays identical.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import weakref
from concurrent.futures import ThreadPoolExecutor
from glob import glob

from pgcp_spark.pg import catalog as cat
from pgcp_spark.pg import partition
from pgcp_spark.pg.psql_client import NULL_MARKER, PsqlCliClient
from pgcp_spark.qualified_name import QualifiedName, quote_ident

# COPY CSV NULL marker: must survive CSV quoting so NULL ≠ '' ≠ the text.
_CSV_NULL = "\\N"
# client-side \copy: file I/O happens with the CLIENT's permissions — no
# superuser or server-filesystem access needed (server-side COPY would
# require both)
_COPY_OPTS = f"with (format csv, null '{_CSV_NULL}')"
# export adds FORCE_QUOTE *: Spark's CSV reader maps UNQUOTED empty fields
# to null, so every non-NULL value must arrive quoted for '' ≠ NULL to
# survive the round trip
_COPY_OUT_OPTS = f"with (format csv, null '{_CSV_NULL}', force_quote *)"
_PARALLELISM = 8

_PG_TO_SPARK = {
    "smallint": "short",
    "int2": "short",
    "integer": "int",
    "int4": "int",
    "serial": "int",
    "bigint": "long",
    "int8": "long",
    "bigserial": "long",
    "real": "float",
    "float4": "float",
    "double precision": "double",
    "float8": "double",
    "date": "date",
}


def spark_type_for(pg_type: str) -> str:
    t = pg_type.lower()
    if t in _PG_TO_SPARK:
        return _PG_TO_SPARK[t]
    if t.startswith("numeric(") or t.startswith("decimal("):
        return t.replace("numeric", "decimal")
    if t in ("numeric", "decimal"):
        return "decimal(38,18)"
    if t.startswith("timestamp"):
        return "timestamp"
    if t == "boolean":
        # read as string ('t'/'f'), cast after load — Spark's CSV parser
        # only accepts true/false for BooleanType
        return "string"
    return "string"  # text/varchar/char/bytea-hex/enums/arrays


def make_copy_reader(spark, client: PsqlCliClient):
    """Build a ``Transport`` reader: parallel COPY TO csv → typed Spark scan."""

    def reader(src: QualifiedName, options):
        columns = cat.column_definitions(client, src.schema_name, src.table_name)
        if not columns:
            raise RuntimeError(f"source table {src} has no columns (missing?)")
        schema = ", ".join(f"`{c.name}` {spark_type_for(c.type)}" for c in columns)
        out_dir = tempfile.mkdtemp(prefix="pgcp_copy_out_")

        def export(i_sql):
            i, sql = i_sql
            path = os.path.join(out_dir, f"part-{i:05d}.csv")
            client.execute(f"\\copy ({sql}) to '{path}' {_COPY_OUT_OPTS}")

        try:
            selects = _partitioned_selects(client, src, columns, options)
            with ThreadPoolExecutor(max_workers=_PARALLELISM) as pool:
                list(pool.map(export, enumerate(selects)))
        except BaseException:
            shutil.rmtree(out_dir, ignore_errors=True)
            raise

        df = spark.read.csv(
            out_dir,
            schema=schema,
            nullValue=_CSV_NULL,
            emptyValue="",
            escape='"',  # PG CSV doubles quotes (RFC 4180); Spark defaults to backslash
            timestampFormat="yyyy-MM-dd HH:mm:ss[.SSSSSS]",
        )
        from pyspark.sql import functions as F

        for c in columns:
            if c.type.lower() == "boolean":
                df = df.withColumn(c.name, F.col(c.name) == "t")
        # the CSV files live as long as the frame that scans them: the
        # staged write consumes it, and the dir goes when the caller drops
        # the frame, on success and on failure (at exit at the latest)
        weakref.finalize(df, shutil.rmtree, out_dir, True)
        return df

    return reader


def make_copy_writer(client: PsqlCliClient):
    """Build a ``Transport`` writer: Spark CSV parts → parallel COPY FROM."""

    def writer(df, staging: QualifiedName, options) -> None:
        out_dir = tempfile.mkdtemp(prefix="pgcp_copy_in_")
        part_dir = os.path.join(out_dir, "parts")
        try:
            (
                df.write.mode("overwrite")
                .option("nullValue", _CSV_NULL)
                .option("emptyValue", "\"\"")
                .option("escape", '"')  # RFC 4180 doubled quotes for PG COPY
                .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
                .csv(part_dir)
            )
            parts = sorted(glob(os.path.join(part_dir, "part-*")))

            def load(path: str) -> None:
                client.execute(f"\\copy {staging.quoted} from '{path}' {_COPY_OPTS}")

            with ThreadPoolExecutor(max_workers=_PARALLELISM) as pool:
                list(pool.map(load, parts))
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    return writer


def _partitioned_selects(client, src: QualifiedName, columns, options) -> list[str]:
    """The N per-stream COPY subqueries: one PK-range predicate each
    (numeric stride or sampled percentile boundaries — pg/partition.py),
    or the single full select for no-PK / small / degenerate tables.
    Shared by the staged-CSV and executor-pipe readers so both scale past
    the reference's single COPY stream on ANY PK type (round 13)."""
    where = f"({options.where})" if options.where else "TRUE"
    part = partition.pk_leading_column(
        cat.get_indexes(client, src.schema_name, src.table_name), columns
    )
    preds = None
    if part:
        preds = partition.partition_predicates(
            client.fetch,
            src.quoted,
            quote_ident(part[0]),
            part[1],
            options.num_partitions,
            options.where,
            options.small_table_rows,
        )
    if not preds:
        return [f"SELECT * FROM {src.quoted} WHERE {where}"]
    return [f"SELECT * FROM {src.quoted} WHERE {where} AND ({p})" for p in preds]


def make_pipe_writer(cfg):
    """Build a ``Transport`` writer that streams each partition straight
    into ``psql COPY ... FROM STDIN`` — no intermediate files, no shared
    filesystem.

    This is the CLUSTER-scale write path: ``make_copy_writer`` stages CSV
    on a filesystem both Spark and psql can see (true only single-node),
    whereas here every executor pipes its own partitions to the
    destination server over the network — N parallel COPY streams for N
    partitions, exactly the per-partition streaming the reference's single
    ``psql COPY FROM STDIN`` pipe (transport.rb:66-110) becomes on Spark.
    Executors must have ``psql`` on PATH (a deploy requirement, like the
    JDBC jar for the JDBC path).

    Rows are formatted executor-side by ``pyarrow.csv.write_csv`` straight
    from the Arrow batches — C all the way, no pandas materialization, no
    per-row Python. pyarrow's CSV dialect matches PG COPY CSV *defaults*
    exactly: NULL → unquoted empty field, empty string → quoted ``""``
    (so NULL ≠ '' without any marker), quotes doubled per RFC 4180,
    timestamps as ``YYYY-MM-DD HH:MM:SS.ffffff``, bool → true/false.
    """

    def writer(df, staging: QualifiedName, options) -> None:
        # default COPY CSV null (empty, unquoted) — pyarrow's convention
        copy_sql = f"\\copy {staging.quoted} from stdin with (format csv)"
        base_args = PsqlCliClient(cfg).base_args() + ["-c", copy_sql]
        password = cfg.password

        def write_partition(batches):
            import io
            import subprocess

            import pyarrow as pa
            import pyarrow.csv as pacsv

            opts = pacsv.WriteOptions(include_header=False)
            proc = None
            n = 0
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                if proc is None:
                    proc = subprocess.Popen(
                        base_args,
                        stdin=subprocess.PIPE,
                        stderr=subprocess.PIPE,
                        env={"PGPASSWORD": password, "PATH": "/usr/bin:/usr/local/bin:/bin"},
                    )
                buf = io.BytesIO()
                pacsv.write_csv(pa.Table.from_batches([batch]), buf, opts)
                proc.stdin.write(buf.getvalue())
                n += batch.num_rows
            if proc is not None:
                proc.stdin.close()
                err = proc.stderr.read().decode("utf-8", "replace")
                if proc.wait() != 0:
                    raise RuntimeError(f"psql COPY FROM STDIN failed: {err.strip()}")
            yield pa.RecordBatch.from_pydict({"n": pa.array([n], type=pa.int64())})

        # collect() drives the pipes; a failed COPY in any partition
        # surfaces as a task failure and propagates (Q4 semantics)
        df.mapInArrow(write_partition, schema="n long").collect()

    return writer


def make_pipe_reader(spark, client: PsqlCliClient, cfg):
    """Build a ``Transport`` reader where EXECUTORS run the COPY streams:
    the driver computes N PK ranges (same split as the JDBC reader), ships
    them as a tiny DataFrame, and each task pipes its range through
    ``psql COPY (SELECT ...) TO STDOUT`` parsed by ``pandas.read_csv``
    (C engine) into Arrow batches — no staging files, no shared
    filesystem, so it scales to a real cluster like the pipe writer.

    Types: numerics/bools/strings land via a pandas dtype map; timestamps
    parse vectorized; NUMERIC(p,s) is read as string and cast to
    DECIMAL(p,s) JVM-side after the scan (exactness preserved — the cast
    is on the untruncated text).
    """
    import io
    import subprocess

    import pandas as pd

    def reader(src: QualifiedName, options):
        columns = cat.column_definitions(client, src.schema_name, src.table_name)
        if not columns:
            raise RuntimeError(f"source table {src} has no columns (missing?)")

        selects = _partitioned_selects(client, src, columns, options)

        base_args = PsqlCliClient(cfg).base_args()
        password = cfg.password
        names = [c.name for c in columns]
        # pandas-side parse types; decimals/timestamps handled separately
        pd_dtypes, ts_cols, dec_cols, bool_cols = {}, [], [], []
        for c in columns:
            st = spark_type_for(c.type)
            if st == "timestamp":
                ts_cols.append(c.name)
            elif st.startswith("decimal"):
                dec_cols.append((c.name, st))
                pd_dtypes[c.name] = "string"
            elif c.type.lower() == "boolean":
                bool_cols.append(c.name)
                pd_dtypes[c.name] = "string"
            elif st in ("short", "int", "long"):
                pd_dtypes[c.name] = "Int64"  # nullable int
            elif st in ("float", "double"):
                pd_dtypes[c.name] = "float64"
            else:
                pd_dtypes[c.name] = "string"

        ranges = spark.createDataFrame([(s,) for s in selects], "copy_sql string").repartition(
            len(selects)
        )

        def fetch_partition(batches):
            for batch in batches:
                for sql in batch["copy_sql"]:
                    proc = subprocess.run(
                        base_args + ["-c", f"\\copy ({sql}) to stdout {_COPY_OUT_OPTS}"],
                        capture_output=True,
                        env={"PGPASSWORD": password, "PATH": "/usr/bin:/usr/local/bin:/bin"},
                    )
                    if proc.returncode != 0:
                        raise RuntimeError(
                            f"psql COPY TO STDOUT failed: {proc.stderr.decode()[:500]}"
                        )
                    if not proc.stdout:
                        continue
                    pdf = pd.read_csv(
                        io.BytesIO(proc.stdout),
                        header=None,
                        names=names,
                        dtype=pd_dtypes,
                        na_values=[_CSV_NULL],
                        keep_default_na=False,
                    )
                    for c in ts_cols:
                        pdf[c] = pd.to_datetime(pdf[c], format="mixed")
                    # bool columns stay 't'/'f' strings here (the Arrow
                    # schema says string); cast to BooleanType JVM-side —
                    # Spark's string→boolean cast accepts t/f
                    yield pdf

        arrow_schema = ", ".join(
            f"`{c.name}` {'string' if spark_type_for(c.type).startswith('decimal') else spark_type_for(c.type)}"
            for c in columns
        )
        df = ranges.mapInPandas(fetch_partition, schema=arrow_schema)
        from pyspark.sql import functions as F

        for cname, dtype in dec_cols:
            df = df.withColumn(cname, F.col(cname).cast(dtype))
        for cname in bool_cols:
            df = df.withColumn(cname, F.col(cname).cast("boolean"))
        return df

    return reader
