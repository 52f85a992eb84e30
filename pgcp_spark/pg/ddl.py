"""DDL synthesis: PG-type-faithful CREATE TABLE and index replay.

Reference parity:
  - create_table_statement ← postgres.rb:263-278,300-325 (O7, O17), with
    the Q8 fallback bug fixed (dest table defaults to the SOURCE table
    name, not the dest schema) and identifiers quoted (Q6).
  - create_index_statements ← postgres.rb:243-261 (O11), with composite
    primary keys kept whole (Q5 — the reference truncated to columns[0]),
    built on the staging table and named inside the hotswap transaction.

Why custom DDL at all: Spark's generic JDBC write degrades types
(varchar(n)→TEXT, numeric precision lost, arrays unsupported) — SURVEY.md
§4.3. We pre-create tables from introspected PG types and append into them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pgcp_spark.pg.catalog import ColumnDef, IndexDef
from pgcp_spark.qualified_name import QualifiedName, quote_ident

DEFAULT_TYPE = "VARCHAR(1000)"  # postgres.rb:303-304


def column_line(col: ColumnDef) -> str:
    """postgres.rb:300-313 — one column clause."""
    type_str = col.type or DEFAULT_TYPE
    null_str = "NULL" if col.nullable else "NOT NULL"
    return f"{quote_ident(col.name)} {type_str} {null_str}"


def create_table_statement(
    columns: Sequence[ColumnDef],
    dest: QualifiedName,
    if_not_exists: bool = False,
) -> str:
    """postgres.rb:263-278,315-325 — render CREATE TABLE from column
    definitions, preserving exact PG type strings."""
    if not columns:
        raise ValueError(f"no columns for {dest}")
    ine = "IF NOT EXISTS " if if_not_exists else ""
    cols = ",\n  ".join(column_line(c) for c in columns)
    return f"CREATE TABLE {ine}{dest.quoted} (\n  {cols}\n)"


def create_index_statements(
    staging: QualifiedName,
    dest_table: str,
    indexes: Sequence[IndexDef],
    rename_prefix: str | None = None,
) -> tuple[list[str], list[str]]:
    """postgres.rb:243-261, built before the swap: ``(builds, attaches)``.

    ``builds`` holds one ``CREATE [UNIQUE] INDEX <staging>_i<k> ON
    <staging> (…) [WHERE pred]`` per source index; they are independent
    and may run concurrently once the rows are loaded. ``attaches`` go
    into the hotswap transaction after the rename: each secondary index
    takes its source name (behind ``rename_prefix`` if given), and the
    primary key's index becomes the constraint ``ALTER TABLE … ADD
    PRIMARY KEY (cols)`` would have named, with ALL its columns (Q5)."""
    dest = QualifiedName(staging.schema_name, dest_table)
    builds, attaches = [], []
    for k, ix in enumerate(indexes):
        built = f"{staging.table_name}_i{k}"
        unique = "UNIQUE " if ix.unique or ix.primary else ""
        where = f" WHERE {ix.where}" if ix.where else ""
        builds.append(
            f"CREATE {unique}INDEX {quote_ident(built)} ON {staging.quoted}"
            f" ({', '.join(ix.columns)}){where}"
        )
        if ix.primary:
            attaches.append(
                f"ALTER TABLE {dest.quoted} ADD CONSTRAINT"
                f" {quote_ident(default_pkey_name(dest_table))}"
                f" PRIMARY KEY USING INDEX {quote_ident(built)}"
            )
        else:
            name = f"{rename_prefix}{ix.name}" if rename_prefix else ix.name
            attaches.append(
                f"ALTER INDEX {QualifiedName(staging.schema_name, built).quoted}"
                f" RENAME TO {quote_ident(name)}"
            )
    return builds, attaches


def default_pkey_name(table: str) -> str:
    """The name PG gives ``ALTER TABLE <table> ADD PRIMARY KEY``'s
    constraint (makeObjectName with label ``pkey``): the table name,
    clipped at a character boundary so that ``<table>_pkey`` fits
    NAMEDATALEN - 1 = 63 bytes of a UTF-8 database. PG would add a digit
    if another relation of the schema held that name; the swap then
    fails and the old table stays published."""
    clipped = table.encode()[: 63 - len("_pkey")].decode(errors="ignore")
    return f"{clipped}_pkey"


def hotswap_statements(
    schema_name: str, staging_table: str, dest_table: str, drop_existing: bool = True
) -> list[str]:
    """postgres.rb:93-106 (O8) — one transaction: drop dest if present,
    rename staging into place. Readers see old or new, never partial."""
    dest = QualifiedName(schema_name, dest_table)
    staging = QualifiedName(schema_name, staging_table)
    stmts = []
    if drop_existing:
        stmts.append(f"DROP TABLE IF EXISTS {dest.quoted}")
    stmts.append(f"ALTER TABLE {staging.quoted} RENAME TO {quote_ident(dest_table)}")
    return stmts
