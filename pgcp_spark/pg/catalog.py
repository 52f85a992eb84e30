"""PostgreSQL catalog introspection (driver-side metadata queries).

Reference parity — the catalog SQL mirrors lib/pgcp/postgres.rb (which is
correct in the reference; only its call sites were buggy), with one
systematic fix: identifiers/literals are escaped (SURVEY.md Q6 — the
reference interpolates raw strings, e.g. postgres.rb:27,152-153,180-183).

  - list_tables        ← postgres.rb:20-36  (O4)
  - schema_names       ← postgres.rb:108-120 (O5)
  - column_definitions ← postgres.rb:137-167 (O6)
  - get_indexes        ← postgres.rb:169-241 (O10)
  - table_exists       ← postgres.rb:280-284,327-346 (O12)
"""

from __future__ import annotations

from dataclasses import dataclass

from pgcp_spark.pg.client import PgClient
from pgcp_spark.pg.psql_client import FIELD_SEP
from pgcp_spark.qualified_name import quote_literal


@dataclass(frozen=True)
class ColumnDef:
    """postgres.rb:163-165 — the entire column model: name, PG type
    string, nullability."""

    name: str
    type: str
    nullable: bool


@dataclass(frozen=True)
class IndexDef:
    """postgres.rb:196-202 — oid, unique/primary flags, partial-index
    predicate, ordered column/expression list."""

    name: str
    columns: tuple[str, ...]
    unique: bool = False
    primary: bool = False
    where: str | None = None


def list_tables(client: PgClient, schema_name: str) -> list[str]:
    """Base tables of one schema, sorted (postgres.rb:20-36; views are
    excluded by table_type='BASE TABLE', postgres.rb:25)."""
    sql = f"""
SELECT {_text("table_name")}
FROM information_schema.tables
WHERE table_schema = {quote_literal(schema_name)}
  AND table_type = 'BASE TABLE'
ORDER BY 1
"""
    return [_untext(r[0]) for r in client.fetch(sql)]


def schema_names(client: PgClient) -> list[str]:
    """Non-system schemas (postgres.rb:108-120)."""
    sql = f"""
SELECT {_text("schema_name")}
FROM information_schema.schemata
WHERE schema_name NOT LIKE 'pg\\_%'
  AND schema_name <> 'information_schema'
ORDER BY 1
"""
    return [_untext(r[0]) for r in client.fetch(sql)]


def column_definitions(client: PgClient, schema_name: str, table_name: str) -> list[ColumnDef]:
    """Ordered column triples via pg_catalog (postgres.rb:137-167):
    format_type preserves exact PG types — numeric(p,s), varchar(n),
    arrays, enums — which Spark's JDBC schema would degrade."""
    sql = f"""
SELECT {_text("a.attname")},
       {_text("pg_catalog.format_type(a.atttypid, a.atttypmod)")},
       a.attnotnull
FROM pg_catalog.pg_attribute a
JOIN pg_catalog.pg_class c ON a.attrelid = c.oid
JOIN pg_catalog.pg_namespace n ON c.relnamespace = n.oid
WHERE n.nspname = {quote_literal(schema_name)}
  AND c.relname = {quote_literal(table_name)}
  AND a.attnum > 0
  AND NOT a.attisdropped
ORDER BY a.attnum
"""
    return [
        ColumnDef(name=_untext(r[0]), type=_untext(r[1]), nullable=not _as_bool(r[2]))
        for r in client.fetch(sql)
    ]


def get_indexes(client: PgClient, schema_name: str, table_name: str) -> list[IndexDef]:
    """Index definitions incl. unique/primary flags, partial-index WHERE
    (pg_get_expr, postgres.rb:212) and expression columns (pg_get_indexdef
    per attnum, postgres.rb:233), in one query. Composite PKs keep ALL
    columns — the reference truncated to the first (postgres.rb:248,
    SURVEY.md Q5)."""
    # indnkeyatts, NOT the length of indkey: indkey also lists INCLUDE
    # (non-key) columns, and promoting those to key columns on replay would
    # silently weaken unique constraints. The key columns come joined with
    # the psql client's field separator, so its fetch hands them back as
    # trailing fields and another client as one string; rejoining and
    # splitting below reads both.
    sql = f"""
SELECT {_text("i.relname")} AS index_name,
       ix.indisunique,
       ix.indisprimary,
       {_text("pg_catalog.pg_get_expr(ix.indpred, ix.indrelid)")} AS where_pred,
       (SELECT string_agg({_text("pg_catalog.pg_get_indexdef(ix.indexrelid, g, true)")},
                          chr({ord(FIELD_SEP)}) ORDER BY g)
        FROM generate_series(1, ix.indnkeyatts) AS g) AS key_columns
FROM pg_catalog.pg_class t
JOIN pg_catalog.pg_namespace n ON t.relnamespace = n.oid
JOIN pg_catalog.pg_index ix ON t.oid = ix.indrelid
JOIN pg_catalog.pg_class i ON i.oid = ix.indexrelid
WHERE n.nspname = {quote_literal(schema_name)}
  AND t.relname = {quote_literal(table_name)}
ORDER BY i.relname
"""
    return [
        IndexDef(
            name=_untext(name),
            columns=tuple(
                _untext(c) for c in FIELD_SEP.join(cols).split(FIELD_SEP)
            ),
            unique=_as_bool(unique),
            primary=_as_bool(primary),
            where=_untext(where),
        )
        for name, unique, primary, where, *cols in client.fetch(sql)
    ]


def table_exists(client: PgClient, schema_name: str, table_name: str) -> bool:
    """Existence check excluding pg_toast (postgres.rb:280-284,327-346)."""
    sql = f"""
SELECT COUNT(*)
FROM information_schema.tables
WHERE table_schema = {quote_literal(schema_name)}
  AND table_schema <> 'pg_toast'
  AND table_type = 'BASE TABLE'
  AND table_name = {quote_literal(table_name)}
"""
    return int(client.fetch(sql)[0][0]) > 0


def primary_key_columns(client: PgClient, schema_name: str, table_name: str) -> tuple[str, ...]:
    """First primary-key index's full column list — used to pick the JDBC
    partition column for parallel reads (engine addition; no reference
    equivalent because pgcp streams single-threaded, transport.rb:89-110)."""
    for ix in get_indexes(client, schema_name, table_name):
        if ix.primary:
            return ix.columns
    return ()


def _text(expr: str) -> str:
    """SQL for ``expr`` behind a ``_`` prefix. A catalog name can be
    ``t``, ``f`` or all digits, which a client that types untyped text
    (the psql client's ``fetch``) would read as a bool or a number;
    prefixed, every client hands it back as text, and ``_untext`` strips
    the prefix. NULL stays NULL."""
    return f"('_' || {expr})"


def _untext(v: str | None) -> str | None:
    return None if v is None else v[1:]


def _as_bool(v) -> bool:
    if isinstance(v, bool):
        return v
    return str(v).lower() in ("t", "true", "1")
