"""PostgreSQL sink: one staged load per table, plus the reference's
catalog management (schema/role/grant/comment DDL).

Reference behavior (wrds2pg/postgres/copy.py:57-247 ``wrds_to_pg`` +
wrds2pg/api.py:37-236 ``wrds_update``): ensure schema and roles,
DROP TABLE CASCADE, CREATE TABLE with inferred PG types, stream rows
in via COPY, grant, and store the "Last modified" stamp as the table
comment (wrds2pg/postgres/ddl.py:26-38), all in one COPY transaction
(copy.py:38-52).

``update_postgres`` is the only load body: gate on the stamps, create
``{table}__staging`` with its exact types, owner, grants and stamp
comment, move the rows into it, then swap it in with one DROP+RENAME
statement.  Owner, grants and comment carry over through the RENAME,
so the data and its stamp go live together, and a failure before the
swap leaves the old table and its old stamp in place.  Two row movers
fill the staging table: COPY from a CSV export when the caller passes
a ``copy_csv`` seam, JDBC append otherwise.

This module owns no connections: the caller passes ``execute_sql``
(and ``copy_csv``) callables — ``psql_runners`` builds them on the
``psql`` CLI, tests inject recorders.  All SQL generation is pure and
unit-tested.
"""

from __future__ import annotations

import glob
import logging
import os
import shutil
import tempfile
from typing import Callable, Sequence

from pyspark.sql import DataFrame

from wrds2pg_spark.catalog import needs_update

__all__ = [
    "create_table_sql", "comment_sql", "ddl_script", "update_postgres",
    "psql_runners", "PsqlError",
    "spark_to_pg_type",
]

log = logging.getLogger(__name__)

# Spark SQL type -> PostgreSQL type, used for columns without an
# explicit col_types override.  Matches the reference's inference
# targets (wrds2pg/sas/metadata.py:256-291 emits text / float8 /
# integer / date / timestamp) plus the lossless extras Spark can carry.
_SPARK_TO_PG = {
    "string": "text",
    "int": "integer",
    "integer": "integer",
    "bigint": "bigint",
    "long": "bigint",
    "smallint": "smallint",
    "double": "float8",
    "float": "float4",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "binary": "bytea",
}


def spark_to_pg_type(spark_simple_name: str) -> str:
    t = spark_simple_name.lower()
    if t.startswith("decimal"):
        return t.replace("decimal", "numeric")
    return _SPARK_TO_PG.get(t, "text")


def pg_types_for(df: DataFrame, col_types: dict[str, str] | None = None) -> dict[str, str]:
    """Per-column PG types: inferred from the Spark schema, with
    user overrides (lower-cased keys) winning — the same merge rule as
    wrds2pg/sas/metadata.py:250-252."""
    overrides = {k.lower(): v for k, v in (col_types or {}).items()}
    out = {}
    for f in df.schema.fields:
        name = f.name.lower()
        out[name] = overrides.get(name, spark_to_pg_type(f.dataType.simpleString()))
    return out


def create_table_sql(
    schema: str, table_name: str, names: Sequence[str], col_types: dict[str, str]
) -> str:
    """Identical SQL shape to wrds2pg/postgres/ddl.py:57-59."""
    cols = ", ".join(f'"{n}" {col_types[n]}' for n in names)
    return f'CREATE TABLE "{schema}"."{table_name}" ({cols})'


def comment_sql(schema: str, table_name: str, comment: str) -> str:
    """COMMENT ON TABLE with quote doubling (wrds2pg/postgres/ddl.py:26-38)."""
    return (
        f'COMMENT ON TABLE "{schema}"."{table_name}" '
        f"IS '{comment.replace(chr(39), chr(39) * 2)}'"
    )


def table_comment_query(schema: str, table_name: str) -> str:
    """The stamp read-back query (wrds2pg/postgres/ddl.py:7-23):
    ``obj_description`` over ``to_regclass`` with ``quote_ident`` on
    both parts, so odd identifiers round-trip exactly as the write
    side's quoted DDL created them."""
    s = schema.replace("'", "''")
    t = table_name.replace("'", "''")
    return (
        "SELECT obj_description(to_regclass("
        f"quote_ident('{s}') || '.' || quote_ident('{t}')"
        "), 'pg_class')"
    )


def get_table_comment(
    schema: str,
    table_name: str,
    execute_query: Callable[[str], object],
) -> str:
    """Read the table's comment stamp, '' when the table or comment is
    absent (reference ddl.py:7-23 returns '' likewise).  The injected
    ``execute_query`` runs one SQL string and returns rows
    (list-of-tuples / cursor-like) — the read-side twin of the
    ``execute_sql`` seam, so this module still owns no connections."""
    rows = execute_query(table_comment_query(schema, table_name))
    try:
        rows = list(rows) if rows is not None else []
    except TypeError:
        rows = []
    if not rows:
        return ""
    first = rows[0]
    val = first[0] if isinstance(first, (tuple, list)) else first
    return val if isinstance(val, str) else ""


def ddl_script(
    schema: str,
    table_name: str,
    names: Sequence[str],
    col_types: dict[str, str],
    *,
    create_roles: bool = False,
    modified: str = "",
) -> list[str]:
    """The full admin-DDL sequence the reference issues around a load
    (wrds2pg/postgres/copy.py:179-211,241-244; wrds2pg/api.py:217-234),
    as an ordered statement list."""
    stmts = [f'CREATE SCHEMA IF NOT EXISTS "{schema}"']
    if create_roles:
        access = f"{schema}_access"
        stmts += [
            f'CREATE ROLE "{schema}"',
            f'ALTER SCHEMA "{schema}" OWNER TO "{schema}"',
            f'CREATE ROLE "{access}"',
            f'GRANT USAGE ON SCHEMA "{schema}" TO "{access}"',
        ]
    stmts.append(f'DROP TABLE IF EXISTS "{schema}"."{table_name}" CASCADE')
    stmts.append(create_table_sql(schema, table_name, names, col_types))
    if create_roles:
        access = f"{schema}_access"
        stmts += [
            f'ALTER TABLE "{schema}"."{table_name}" OWNER TO "{schema}"',
            f'GRANT SELECT ON "{schema}"."{table_name}" TO "{access}"',
        ]
    if modified:
        stmts.append(comment_sql(schema, table_name, modified))
    return stmts


def _swap_sql(schema: str, staging: str, table_name: str) -> str:
    """The staging swap as ONE multi-statement string: one implicit
    transaction on the psql runner (each ``execute_sql`` call is its own
    connection there) and one explicit block elsewhere, so readers never
    see the table missing and a failure leaves the old table."""
    return (
        f'BEGIN; DROP TABLE IF EXISTS "{schema}"."{table_name}" CASCADE; '
        f'ALTER TABLE "{schema}"."{staging}" RENAME TO "{table_name}"; '
        f'COMMIT'
    )


def update_postgres(
    df: DataFrame,
    table_name: str,
    schema: str,
    jdbc_url: str = "",
    *,
    execute_sql: Callable[[str], None],
    copy_csv: Callable[..., None] | None = None,
    modified: str = "",
    sink_modified: str = "",
    force: bool = False,
    col_types: dict[str, str] | None = None,
    create_roles: bool = False,
    tz: str = "UTC",
) -> bool:
    """Gate, staged load, swap: the one PostgreSQL load path.

    ``sink_modified`` is the stamp read from the existing table's
    comment (the caller queries it — this module issues, never reads,
    admin SQL).  When the gate opens, ``ddl_script`` builds
    ``{table}__staging`` with ``create_roles``' owner and grants and the
    ``modified`` comment, the rows move in, and ``_swap_sql`` replaces
    the live table in one statement — the reference's single-transaction
    load (wrds2pg/postgres/copy.py:38-52) without holding a long lock.
    Returns True when a load happened.

    ``copy_csv`` given moves the rows with COPY (``_copy_load``);
    otherwise they go through JDBC to ``jdbc_url``, whose connections
    run ``SET TimeZone TO '{tz}'`` first, as the reference's do
    (wrds2pg/postgres/copy.py:42-43, api.py:49)."""
    if not needs_update(modified, sink_modified, force):
        log.info("%s.%s already up to date", schema, table_name)
        return False

    staging = f"{table_name}__staging"
    names = [f.name.lower() for f in df.schema.fields]
    for stmt in ddl_script(
        schema, staging, names, pg_types_for(df, col_types),
        create_roles=create_roles, modified=modified,
    ):
        execute_sql(stmt)
    if copy_csv is None:
        _jdbc_append(df, jdbc_url, schema, staging, tz)
    else:
        _copy_load(df, schema, staging, copy_csv)
    execute_sql(_swap_sql(schema, staging, table_name))
    return True


def _jdbc_append(
    df: DataFrame, jdbc_url: str, schema: str, table: str, tz: str
) -> None:
    """JDBC row mover: per-partition batched inserts into the table
    ``ddl_script`` created with the exact types."""
    writer = (
        df.write.mode("append")
        .format("jdbc")
        .option("url", jdbc_url)
        .option("dbtable", f'"{schema}"."{table}"')
        # reWriteBatchedInserts turns the batches into multi-row
        # statements server-side
        .option("batchsize", "10000")
        .option("reWriteBatchedInserts", "true")
    )
    if tz:
        writer = writer.option(
            "sessionInitStatement", f"SET TimeZone TO '{tz}'"
        )
    writer.save()


def _copy_load(
    df: DataFrame, schema: str, table: str, copy_csv: Callable[..., None]
) -> None:
    """COPY row mover: ``df.write.csv`` exports every partition in
    parallel (the cluster-side cost), then ``copy_csv`` loads the part
    files one by one through the client.  At 100 TB with a real PG
    fleet you'd fan the part files across parallel COPY sessions (they
    are independent); the staging swap keeps the visible table atomic
    either way.  The CSV dialect is pinned to COPY's (quotes doubled
    via escape='"', unquoted empty = NULL, quoted empty = empty string,
    ISO timestamps) so text containing delimiters, quotes and newlines
    round-trips byte-exactly — asserted against a live server in
    tests/test_postgres_live.py."""
    out_dir = tempfile.mkdtemp(prefix="wrds2pg_spark_pg_copy_")
    try:
        (
            df.write.mode("overwrite")
            .option("escape", '"')  # CSV quote doubling, COPY's dialect
            .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSSXXX")
            .csv(out_dir)
        )
        # chmod AFTER the write (overwrite mode recreates the dir):
        # the COPY client may run as another OS user (the scratch
        # tests run psql as `postgres` while Spark writes as root)
        os.chmod(out_dir, 0o755)
        for p in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
            os.chmod(p, 0o644)
            copy_csv(schema, table, p)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# psql-CLI client
#
# The reference moves its rows with COPY over a libpq connection
# (wrds2pg/postgres/copy.py:36-55: SAS -> CSV pipe -> COPY CSV in one
# transaction).  These runners give the COPY mover a client with ZERO
# Python dependencies — the `psql` CLI — so the sink is exercisable
# against a real server wherever PostgreSQL is installed
# (tests/test_postgres_live.py runs the whole matrix against a scratch
# instance).  The runners implement the execute_sql / execute_query /
# copy_csv seams, keeping the module's no-owned-connections doctrine:
# swap in a psycopg runner and nothing else changes.
# ---------------------------------------------------------------------------


class PsqlError(RuntimeError):
    pass


def psql_runners(psql_argv: Sequence[str], cwd: str = "/tmp"):
    """Build (execute_sql, execute_query, copy_csv) seam callables on
    top of the ``psql`` CLI.

    ``psql_argv`` is the full argv prefix, e.g.
    ``["psql", "-h", "/sock/dir", "-d", "mydb"]`` (or wrapped in
    ``runuser -u postgres --`` when the caller runs as root).

    Transaction note: each callable invocation is its own psql
    process/connection, BUT a single ``execute_sql`` string may carry
    multiple ';'-separated statements — psql -c sends them as one
    simple-query message, which PostgreSQL runs in one implicit
    transaction.  update_postgres relies on exactly that for the
    atomic staging swap.

    ``copy_csv(schema, table, path, header=False)`` issues client-side
    ``\\copy`` (no superuser needed); a ``.gz`` path streams through
    ``\\copy ... FROM PROGRAM 'gzip -cd ...'`` so the gzip CSV sink's
    own output loads directly — the reference's gzip->COPY path."""
    import subprocess

    base = list(psql_argv) + ["-X", "-q", "-v", "ON_ERROR_STOP=1"]

    def _run(extra: list[str]) -> str:
        r = subprocess.run(
            base + extra, capture_output=True, text=True, cwd=cwd)
        if r.returncode != 0:
            raise PsqlError(r.stderr.strip()[:500])
        return r.stdout

    def execute_sql(stmt: str) -> None:
        _run(["-c", stmt])

    SEP = "\x1f"

    def execute_query(stmt: str):
        # line-based text protocol (unit-separator field delim): a
        # VALUE containing a newline would split into two rows —
        # callers reading free-text columns should escape server-side
        # (replace(col, E'\n', '\\n')).  The seam's in-repo consumer
        # (get_table_comment) reads single-line stamps.
        out = _run(["-t", "-A", "-F", SEP, "-c", stmt])
        return [tuple(line.split(SEP))
                for line in out.splitlines() if line != ""]

    def copy_csv(schema: str, table: str, path: str,
                 header: bool = False) -> None:
        opts = "FORMAT csv" + (", HEADER true" if header else "")
        if path.endswith(".gz"):
            src = "PROGRAM " + _psql_quote(f"gzip -cd {path}")
        else:
            src = _psql_quote(path)
        _run(["-c",
              f'\\copy "{schema}"."{table}" FROM {src} WITH ({opts})'])

    return execute_sql, execute_query, copy_csv


def _psql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"
