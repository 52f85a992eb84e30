"""CLI: ``pgcp-spark cp -s SRC -d DEST -t schema.table [-c config] [-f schema] [-l log]``.

Reference parity: lib/pgcp_runner.rb:7-53 + bin/pgcp (O20) — same flags,
same YAML config resolution (-c or ~/.pgcp.yml), same glob validation
(pattern must be schema-qualified with exactly one '.'), same logging
surface (O21: stdout or --log file, lib/pgcp.rb:3-17).
"""

from __future__ import annotations

import argparse
import logging
import sys
from contextlib import ExitStack


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="pgcp-spark", description="Copy Postgres tables via Spark")
    sub = p.add_subparsers(dest="command")
    cp = sub.add_parser("cp", help="copy table(s) from source to destination database")
    cp.add_argument("-s", "--source", required=True, help="source database alias")
    cp.add_argument("-d", "--dest", required=True, help="destination database alias")
    cp.add_argument("-t", "--table", required=True, help="schema.table or schema.glob")
    cp.add_argument("-c", "--config", default=None, help="config path (default ~/.pgcp.yml)")
    cp.add_argument("-f", "--force-schema", default=None, help="override destination schema")
    cp.add_argument("-l", "--log", default=None, help="log file (default stdout)")
    cp.add_argument("--skip-indexes", action="store_true", help="skip index replay")
    cp.add_argument("--no-create-schema", action="store_true")
    cp.add_argument("--num-partitions", type=int, default=16)
    cp.add_argument(
        "--where",
        default=None,
        help="SQL predicate for incremental/partial copies (pushed into the source scan)",
    )
    cp.add_argument(
        "--transfer",
        choices=("jdbc", "copy", "pipe"),
        default="jdbc",
        help="row transfer mechanism: partitioned JDBC (needs the PostgreSQL "
        "driver jar on Spark's classpath); 'copy' = psql COPY via CSV "
        "staging (single node); 'pipe' = executor-side COPY TO STDOUT / "
        "FROM STDIN streams (cluster-scale, no shared filesystem — needs "
        "psql on executors)",
    )
    q = sub.add_parser(
        "sql",
        help="run a SQL query over the parquet lake tables (the user-facing "
        "surface of the reference's CTAS seam, postgres.rb:80-91 / O15)",
    )
    q.add_argument("query", help="ANSI SQL over tables region..embeddings")
    q.add_argument("--sf-dir", default=None, help="lake directory (default $SPARK_GRAFT_SF_DIR)")
    q.add_argument("--output", default=None, help="write result as parquet to this path")
    q.add_argument("--limit", type=int, default=20, help="rows to print when not writing")
    ing = sub.add_parser(
        "ingest",
        help="load a file (csv/jsonl/parquet/orc) into a destination table "
        "via the staged-write + hotswap path (O16 and its columnar siblings)",
    )
    ing.add_argument("path", help="input file or directory (globs allowed)")
    ing.add_argument("-d", "--dest", required=True, help="destination database alias")
    ing.add_argument("-t", "--table", required=True, help="destination schema.table")
    ing.add_argument(
        "--format", choices=("csv", "jsonl", "parquet", "orc"), default="csv"
    )
    ing.add_argument("--no-header", action="store_true", help="CSV has no header row")
    ing.add_argument("-c", "--config", default=None, help="config path (default ~/.pgcp.yml)")
    ing.add_argument("-l", "--log", default=None, help="log file (default stdout)")
    return p


def validate_table_arg(table: str) -> None:
    """pgcp_runner.rb:28-31 — globs must be schema-qualified with exactly
    one dot."""
    schema, _, name = table.partition(".")
    if table.count(".") != 1 or not schema or not name:
        raise SystemExit(f"table must be schema-qualified as schema.table, got {table!r}")


def run_sql(args) -> int:
    """``pgcp-spark sql``: register the lake tables as temp views, run the
    query through Catalyst, and show or persist the result — the Spark
    replacement for the reference executing user SQL inside PostgreSQL
    (create_table_from_query, postgres.rb:80-91)."""
    import os

    from pgcp_spark.session import get_spark
    from pgcp_spark.sources import register_views

    sf_dir = args.sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark("pgcp_spark_sql")
    register_views(spark, sf_dir)
    df = spark.sql(args.query)
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        logging.getLogger("pgcp_spark").info("wrote %s", args.output)
    else:
        for line in df._show_string(args.limit, 0, False).splitlines():
            print(line)
    return 0


def run_ingest(args) -> int:
    """``pgcp-spark ingest``: file → staged write → atomic hotswap into the
    destination table, dispatching on format."""
    from pgcp_spark.config import load_config
    from pgcp_spark.session import get_spark
    from pgcp_spark.transport import Transport

    try:
        cfg = load_config(args.config)
    except FileNotFoundError as e:
        raise SystemExit(f"config file not found: {e.filename} (pass -c or create ~/.pgcp.yml)")
    try:
        dest_cfg = cfg.database(args.dest)
    except KeyError as e:
        raise SystemExit(f"error: {e.args[0]}")
    validate_table_arg(args.table)
    spark = get_spark("pgcp_spark_ingest")
    tr = Transport(spark, dest_cfg, dest_cfg)
    if args.format == "csv":
        tr.copy_from_csv(args.path, args.table, header=not args.no_header)
    elif args.format == "jsonl":
        tr.copy_from_jsonl(args.path, args.table)
    elif args.format == "parquet":
        tr.copy_from_parquet(args.path, args.table)
    else:
        tr.copy_from_orc(args.path, args.table)
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.command == "sql":
        handlers = [logging.StreamHandler(sys.stdout)]
        logging.basicConfig(level=logging.INFO, handlers=handlers, force=True)
        return run_sql(args)
    if args.command == "ingest":
        handlers = [logging.FileHandler(args.log)] if args.log else [logging.StreamHandler(sys.stdout)]
        logging.basicConfig(level=logging.INFO, handlers=handlers, force=True)
        return run_ingest(args)
    if args.command != "cp":
        build_parser().print_help()
        return 1
    validate_table_arg(args.table)

    handlers = [logging.FileHandler(args.log)] if args.log else [logging.StreamHandler(sys.stdout)]
    # force=True: basicConfig is a no-op when the root logger already has
    # handlers, which would silently discard --log in a long-lived process
    logging.basicConfig(
        level=logging.INFO,
        format="%(asctime)s %(levelname)s %(message)s",
        handlers=handlers,
        force=True,
    )

    from pgcp_spark.config import load_config
    from pgcp_spark.session import get_spark
    from pgcp_spark.transport import CopyOptions, Transport

    try:
        cfg = load_config(args.config)
    except FileNotFoundError as e:
        raise SystemExit(f"config file not found: {e.filename} (pass -c or create ~/.pgcp.yml)")
    try:
        cfg.database(args.source), cfg.database(args.dest)
    except KeyError as e:
        raise SystemExit(f"error: {e.args[0]}")
    spark = get_spark("pgcp_spark_cp")
    src_cfg, dest_cfg = cfg.database(args.source), cfg.database(args.dest)
    clients = ExitStack()  # closes the psql clients' sessions after the copy
    if args.transfer in ("copy", "pipe"):
        from pgcp_spark.pg.copy_csv import (
            make_copy_reader,
            make_copy_writer,
            make_pipe_reader,
            make_pipe_writer,
        )
        from pgcp_spark.pg.psql_client import PsqlCliClient

        src_client = clients.enter_context(PsqlCliClient(src_cfg))
        dest_client = clients.enter_context(PsqlCliClient(dest_cfg))
        if args.transfer == "pipe":
            reader = make_pipe_reader(spark, src_client, src_cfg)
            writer = make_pipe_writer(dest_cfg)
        else:
            reader = make_copy_reader(spark, src_client)
            writer = make_copy_writer(dest_client)
        tr = Transport(
            spark,
            src_cfg,
            dest_cfg,
            src_client=src_client,
            dest_client=dest_client,
            reader=reader,
            writer=writer,
        )
    else:
        tr = Transport(spark, src_cfg, dest_cfg)
    options = CopyOptions(
        force_schema=args.force_schema,
        create_schema=not args.no_create_schema,
        skip_indexes=args.skip_indexes,
        num_partitions=args.num_partitions,
        where=args.where,
    )
    with clients:
        if "*" in args.table or "?" in args.table or "[" in args.table:
            tr.copy_tables(args.table, options)  # pgcp_runner.rb:27
        else:
            tr.copy_table(args.table, None, options)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
