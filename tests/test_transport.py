"""Copy-pipeline semantics tests with fake PG clients — verifies the
orchestration sequence, hotswap atomicity, glob-from-source, option
handling, and failure cleanup (the reference quirks Q1-Q5 stay fixed).
No live Postgres: the Spark JDBC read/write edges are injected.
"""

from __future__ import annotations

import re

import pytest

from pgcp_spark.config import DbConfig, parse_config
from pgcp_spark.pg import catalog as cat
from pgcp_spark.pg import ddl
from pgcp_spark.qualified_name import QualifiedName
from pgcp_spark.transport import CopyOptions, Transport


def _q(name):
    """A catalog name as the catalog queries return it: behind a ``_``
    prefix (``catalog._text``)."""
    return None if name is None else "_" + name


class FakeClient:
    """Minimal PgClient: records every statement, answers catalog queries
    from a canned dict."""

    def __init__(self, tables=None, columns=None, indexes=None, pk_bounds=(1, 100)):
        self.tables = tables or {}
        self.columns = columns or []
        self.indexes = indexes or []
        self.pk_bounds = pk_bounds
        self.executed: list[str] = []
        self.transactions: list[list[str]] = []

    def fetch(self, sql):
        s = " ".join(sql.split())
        if "information_schema.tables" in s and "COUNT(*)" in s:
            m = re.search(r"table_name = '([^']+)'", s)
            schema = re.search(r"table_schema = '([^']+)'", s).group(1)
            exists = m.group(1) in self.tables.get(schema, [])
            return [(1 if exists else 0,)]
        if "information_schema.tables" in s:
            schema = re.search(r"table_schema = '([^']+)'", s).group(1)
            return [(_q(t),) for t in sorted(self.tables.get(schema, []))]
        if "pg_attribute" in s:
            return [(_q(c.name), _q(c.type), not c.nullable) for c in self.columns]
        if "pg_index" in s and "indisunique" in s:
            return [
                (_q(ix.name), ix.unique, ix.primary, _q(ix.where),
                 "\x1f".join(_q(c) for c in ix.columns))
                for ix in self.indexes
            ]
        if "MIN(" in s:
            return [self.pk_bounds]
        raise AssertionError(f"unexpected fetch: {s}")

    def execute(self, sql):
        self.executed.append(" ".join(sql.split()))

    def execute_transaction(self, statements):
        stmts = [" ".join(s.split()) for s in statements]
        self.transactions.append(stmts)
        self.executed.extend(stmts)


COLS = [
    cat.ColumnDef("id", "bigint", False),
    cat.ColumnDef("email", "character varying(255)", False),
    cat.ColumnDef("balance", "numeric(12,2)", True),
    cat.ColumnDef("tags", "text[]", True),
]
INDEXES = [
    cat.IndexDef("users_pkey", ("id", "tenant_id"), unique=True, primary=True),
    cat.IndexDef("users_email_idx", ("email",), unique=True),
    cat.IndexDef("users_active_idx", ("created_at",), where="is_active"),
]

CFG = DbConfig(host="h", dbname="db", user="u", password="p")


class FakeDF:
    pass


def make_transport(src, dest):
    reads, writes = [], []

    def reader(table, options):
        reads.append(str(table))
        return FakeDF()

    def writer(df, staging, options):
        writes.append(str(staging))

    tr = Transport(
        spark=None, src_cfg=CFG, dest_cfg=CFG,
        src_client=src, dest_client=dest, reader=reader, writer=writer,
    )
    return tr, reads, writes


def test_copy_table_full_sequence():
    src = FakeClient(tables={"public": ["users"]}, columns=COLS, indexes=INDEXES)
    dest = FakeClient(tables={"public": []})
    tr, reads, writes = make_transport(src, dest)
    tr.copy_table("public.users")

    assert reads == ["public.users"]
    assert len(writes) == 1 and writes[0].startswith("public.temp_")
    staging = writes[0].split(".")[1]
    stg = f'"public"."{staging}"'
    ex = dest.executed
    # sequence: schema → dest table → staging table → index builds on the
    # staging table → hotswap txn → staging cleanup, and nothing after
    assert 'CREATE SCHEMA IF NOT EXISTS "public"' in ex[0]
    assert 'CREATE TABLE "public"."users"' in ex[1]
    assert '"balance" numeric(12,2) NULL' in ex[1]  # exact PG types
    assert '"tags" text[] NULL' in ex[1]
    assert ex[2].startswith(f"CREATE TABLE {stg}")
    # the builds run concurrently, so in any order; composite PK kept
    # whole (Q5 fixed), unique index, partial index predicate retained
    assert sorted(ex[3:6]) == [
        f'CREATE INDEX "{staging}_i2" ON {stg} (created_at) WHERE is_active',
        f'CREATE UNIQUE INDEX "{staging}_i0" ON {stg} (id, tenant_id)',
        f'CREATE UNIQUE INDEX "{staging}_i1" ON {stg} (email)',
    ]
    assert len(dest.transactions) == 1, "hotswap must be transactional"
    swap = dest.transactions[0]
    assert swap == [
        'DROP TABLE IF EXISTS "public"."users"',
        f'ALTER TABLE {stg} RENAME TO "users"',
        'ALTER TABLE "public"."users" ADD CONSTRAINT "users_pkey"'
        f' PRIMARY KEY USING INDEX "{staging}_i0"',
        f'ALTER INDEX "public"."{staging}_i1" RENAME TO "users_email_idx"',
        f'ALTER INDEX "public"."{staging}_i2" RENAME TO "users_active_idx"',
    ]
    assert ex[6:] == swap + [f"DROP TABLE IF EXISTS {stg}"]


@pytest.mark.parametrize("dest_exists", [False, True])
def test_failed_index_build_never_swaps(dest_exists):
    """A failing index build on the staging table propagates, the swap
    never runs, the staging table goes, and the destination is dropped
    only if this run created it."""
    src = FakeClient(tables={"public": ["users"]}, columns=COLS, indexes=INDEXES)

    class FailingBuild(FakeClient):
        def execute(self, sql):
            super().execute(sql)
            if "INDEX" in sql and "_i1" in sql:
                raise RuntimeError("simulated index build failure")

    dest = FailingBuild(tables={"public": ["users"] if dest_exists else []})
    tr, _, writes = make_transport(src, dest)
    with pytest.raises(RuntimeError, match="simulated index build failure"):
        tr.copy_table("public.users")
    assert dest.transactions == []
    assert sum("CREATE" in s and "INDEX" in s for s in dest.executed) == 3
    stg = '"public"."{}"'.format(writes[0].split(".")[1])
    dropped = [s for s in dest.executed if s.startswith("DROP TABLE")]
    assert dropped == [f"DROP TABLE IF EXISTS {stg}"] + (
        [] if dest_exists else ['DROP TABLE IF EXISTS "public"."users"']
    )


def test_default_pkey_name_clips_like_postgres():
    """``ADD PRIMARY KEY`` names its constraint ``<table>_pkey``, the table
    name clipped at a character boundary so the whole fits 63 bytes."""
    assert ddl.default_pkey_name("users") == "users_pkey"
    long = "t" * 70
    assert ddl.default_pkey_name(long) == "t" * 58 + "_pkey"
    # a 2-byte character straddling byte 58 is dropped whole
    assert ddl.default_pkey_name("t" * 57 + "é" + "x") == "t" * 57 + "_pkey"


def test_skip_indexes_is_honored():  # Q3
    src = FakeClient(tables={"public": ["users"]}, columns=COLS, indexes=INDEXES)
    dest = FakeClient(tables={"public": []})
    tr, _, _ = make_transport(src, dest)
    tr.copy_table("public.users", options=CopyOptions(skip_indexes=True))
    joined = "\n".join(dest.executed)
    assert "INDEX" not in joined and "PRIMARY KEY" not in joined


def test_glob_lists_from_source_not_dest():  # Q1/Q2
    src = FakeClient(
        tables={"public": ["users", "users_archive", "accounts"]},
        columns=COLS, indexes=[],
    )
    dest = FakeClient(tables={"public": ["dest_only_table"]})
    tr, reads, _ = make_transport(src, dest)
    copied = tr.copy_tables("public.user*")
    assert sorted(copied) == ["users", "users_archive"]
    assert sorted(reads) == ["public.users", "public.users_archive"]


def test_force_schema_overrides_dest():
    src = FakeClient(tables={"public": ["users"]}, columns=COLS, indexes=[])
    dest = FakeClient(tables={})
    tr, _, writes = make_transport(src, dest)
    tr.copy_table("public.users", options=CopyOptions(force_schema="analytics"))
    assert 'CREATE SCHEMA IF NOT EXISTS "analytics"' in dest.executed[0]
    assert 'CREATE TABLE "analytics"."users"' in dest.executed[1]
    assert writes[0].startswith("analytics.temp_")


def test_failure_drops_created_table_and_propagates():  # Q4
    src = FakeClient(tables={"public": ["users"]}, columns=COLS, indexes=[])
    dest = FakeClient(tables={"public": []})

    def bad_writer(df, staging, options):
        raise RuntimeError("simulated write failure")

    tr = Transport(
        spark=None, src_cfg=CFG, dest_cfg=CFG,
        src_client=src, dest_client=dest,
        reader=lambda t, o: FakeDF(), writer=bad_writer,
    )
    with pytest.raises(RuntimeError, match="simulated write failure"):
        tr.copy_table("public.users")
    joined = "\n".join(dest.executed)
    # staging orphan dropped AND the created dest table dropped
    assert joined.count("DROP TABLE IF EXISTS") >= 2
    assert 'DROP TABLE IF EXISTS "public"."users"' in joined


def test_existing_dest_table_not_recreated_nor_dropped_on_failure():
    src = FakeClient(tables={"public": ["users"]}, columns=COLS, indexes=[])
    dest = FakeClient(tables={"public": ["users"]})  # already exists

    def bad_writer(df, staging, options):
        raise RuntimeError("boom")

    tr = Transport(
        spark=None, src_cfg=CFG, dest_cfg=CFG,
        src_client=src, dest_client=dest,
        reader=lambda t, o: FakeDF(), writer=bad_writer,
    )
    with pytest.raises(RuntimeError):
        tr.copy_table("public.users")
    joined = "\n".join(dest.executed)
    assert 'CREATE TABLE "public"."users"' not in joined
    # only the staging temp is dropped, never the pre-existing dest table
    assert 'DROP TABLE IF EXISTS "public"."users"' not in joined


def test_ddl_round_trip_exact_types():
    stmt = ddl.create_table_statement(COLS, QualifiedName("public", "users"))
    assert '"id" bigint NOT NULL' in stmt
    assert '"email" character varying(255) NOT NULL' in stmt
    assert '"balance" numeric(12,2) NULL' in stmt
    assert '"tags" text[] NULL' in stmt


def test_qualified_name_parsing():
    qn = QualifiedName.parse("analytics.bookings")
    assert (qn.schema_name, qn.table_name) == ("analytics", "bookings")
    assert QualifiedName.parse("bookings").schema_name == "public"
    assert QualifiedName.parse("s", "t") == QualifiedName("s", "t")
    with pytest.raises(ValueError):
        QualifiedName.parse(".bad")


def test_config_parsing_and_defaults():
    cfg = parse_config(
        {"databases": {"prod": {"host": "db1", "dbname": "app", "user": "me", "password": "x"}}}
    )
    db = cfg.database("prod")
    assert db.port == 5432
    assert db.jdbc_url == "jdbc:postgresql://db1:5432/app"
    with pytest.raises(KeyError):
        cfg.database("nope")


def test_cli_validates_glob():
    from pgcp_spark.cli import validate_table_arg

    validate_table_arg("public.users")
    with pytest.raises(SystemExit):
        validate_table_arg("users")
    with pytest.raises(SystemExit):
        validate_table_arg("a.b.c")
    with pytest.raises(SystemExit):
        validate_table_arg("schema.")  # trailing dot: empty table part
    with pytest.raises(SystemExit):
        validate_table_arg(".users")


def test_cli_sql_prints_query_result(spark, capsys):
    from pgcp_spark.cli import main
    from tests.conftest import SF_DIR

    rc = main(["sql", "SELECT r_name FROM region ORDER BY r_name", "--sf-dir", SF_DIR])
    assert rc == 0
    out = capsys.readouterr().out
    for name in ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"):
        assert name in out


def test_cli_sql_writes_parquet(spark, tmp_path):
    from pgcp_spark.cli import main
    from tests.conftest import SF_DIR

    dest = str(tmp_path / "out.parquet")
    rc = main(
        [
            "sql",
            "SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 0",
            "--sf-dir",
            SF_DIR,
            "--output",
            dest,
        ]
    )
    assert rc == 0
    back = spark.read.parquet(dest)
    assert back.count() > 0
    assert set(back.columns) == {"n_nationkey", "n_name"}


def test_where_option_reaches_reader():
    """--where propagates through copy_table to the reader options
    (the default reader pushes it into the JDBC scan + bounds query)."""
    src = FakeClient(tables={"public": ["users"]}, columns=COLS, indexes=INDEXES)
    dest = FakeClient(tables={"public": []})
    seen = {}

    def reader(table, options):
        seen["where"] = options.where
        return FakeDF()

    tr = Transport(
        spark=None, src_cfg=CFG, dest_cfg=CFG,
        src_client=src, dest_client=dest,
        reader=reader, writer=lambda df, staging, options: None,
    )
    tr.copy_table("public.users", None, CopyOptions(where="id > 100"))
    assert seen["where"] == "id > 100"


def test_cli_parses_where_flag():
    from pgcp_spark.cli import build_parser

    args = build_parser().parse_args(
        ["cp", "-s", "a", "-d", "b", "-t", "s.t", "--where", "id > 5"]
    )
    assert args.where == "id > 5"


def test_cli_log_flag_routes_logging_to_file(tmp_path):
    """O21 (lib/pgcp.rb:3-17): -l FILE must receive the pgcp logger output
    even when logging was already configured earlier in the process (the
    force=True path)."""
    import logging

    from pgcp_spark.cli import main

    saved = logging.getLogger().handlers[:]
    log_path = tmp_path / "copy.log"
    try:
        with pytest.raises(SystemExit, match="config file not found"):
            main(
                ["cp", "-s", "a", "-d", "b", "-t", "s.t",
                 "-c", str(tmp_path / "missing.yml"), "-l", str(log_path)]
            )
        logging.getLogger("pgcp_spark").info("probe line after setup")
        for h in logging.getLogger().handlers:
            h.flush()
        assert "probe line after setup" in log_path.read_text()
    finally:
        logging.basicConfig(handlers=saved or None, force=True)


def test_psql_coercion_rules():
    """pg/psql_client._coerce: typed metadata out of untyped psql text —
    exact for the catalog/bounds queries it serves."""
    from pgcp_spark.pg.psql_client import NULL_MARKER, _coerce

    assert _coerce(NULL_MARKER) is None
    assert _coerce("t") is True and _coerce("f") is False
    assert _coerce("42") == 42 and isinstance(_coerce("42"), int)
    assert _coerce("-7") == -7
    assert _coerce("3.25") == 3.25
    assert _coerce("1e4") == "1e4"  # bare exponent stays text (no \d+\.\d+)
    assert _coerce("numeric(12,2)") == "numeric(12,2)"
    assert _coerce("name_42") == "name_42"
    assert _coerce("") == ""


def test_psql_client_builds_conninfo_args():
    from pgcp_spark.config import DbConfig
    from pgcp_spark.pg.psql_client import PsqlCliClient

    c = PsqlCliClient(DbConfig(host="/tmp/sock", dbname="db", user="u", port=5544))
    args = c.base_args()
    assert args[:1] == ["psql"]
    for flag, val in (("-h", "/tmp/sock"), ("-p", "5544"), ("-U", "u"), ("-d", "db")):
        assert val == args[args.index(flag) + 1]
    assert "ON_ERROR_STOP=1" in args


def test_cli_parses_ingest_flags():
    from pgcp_spark.cli import build_parser

    args = build_parser().parse_args(
        ["ingest", "/tmp/x.orc", "-d", "warehouse", "-t", "public.t", "--format", "orc"]
    )
    assert args.format == "orc" and args.dest == "warehouse" and args.path == "/tmp/x.orc"
    args = build_parser().parse_args(
        ["ingest", "/tmp/x.csv", "-d", "w", "-t", "s.t", "--no-header"]
    )
    assert args.format == "csv" and args.no_header


def test_cli_ingest_missing_config_fails_loudly(tmp_path):
    from pgcp_spark.cli import main

    with pytest.raises(SystemExit, match="config file not found"):
        main(
            ["ingest", "/tmp/x.csv", "-d", "w", "-t", "s.t",
             "-c", str(tmp_path / "missing.yml")]
        )
