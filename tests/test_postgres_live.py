"""LIVE PostgreSQL integration tests (round 10).

Every prior round verified sinks/postgres.py only through the
injected-SQL seam because no server existed in the container; this
round the environment ships the PostgreSQL 15 binaries, so the whole
matrix — DDL, roles/grants, COPY round-trip of tricky values, gzip
COPY, comment-stamp round-trip, atomic staging swap, the idempotency
gate — runs against a real scratch instance (initdb into /tmp, unix
socket only, torn down after the module).

Skips cleanly when the binaries or the `postgres` OS user are absent
(the suite must pass in leaner containers)."""

from __future__ import annotations

import os
import shutil
import subprocess

import pytest
from pyspark.sql import functions as F

from wrds2pg_spark.sinks.postgres import (
    PsqlError, comment_sql, ddl_script, get_table_comment, psql_runners,
    table_comment_query, update_postgres,
)

PGBASE = "/tmp/wrds2pg_spark_pgtest"


def _have_pg() -> bool:
    if os.geteuid() != 0:
        return False  # the runuser-based fixture needs root
    for exe in ("initdb", "pg_ctl", "psql", "runuser"):
        if shutil.which(exe) is None:
            return False
    try:
        subprocess.run(["id", "-u", "postgres"], capture_output=True,
                       check=True)
    except Exception:
        return False
    return True


pytestmark = pytest.mark.skipif(
    not _have_pg(), reason="no usable PostgreSQL toolchain in container")


def _pg(argv, **kw):
    return subprocess.run(
        ["runuser", "-u", "postgres", "--"] + argv,
        capture_output=True, text=True, cwd="/tmp", **kw)


@pytest.fixture(scope="module")
def pg_sock():
    shutil.rmtree(PGBASE, ignore_errors=True)
    os.makedirs(PGBASE, exist_ok=True)
    shutil.chown(PGBASE, user="postgres")
    r = _pg(["initdb", "-D", f"{PGBASE}/data", "-E", "UTF8", "--no-sync"])
    if r.returncode != 0:
        pytest.skip(f"initdb failed: {r.stderr[:200]}")
    r = _pg(["pg_ctl", "-D", f"{PGBASE}/data", "-w",
             "-o", f"-c listen_addresses='' -k {PGBASE} -c fsync=off",
             "-l", f"{PGBASE}/server.log", "start"])
    if r.returncode != 0:
        pytest.skip(f"pg_ctl start failed: {r.stderr[:200]}")
    yield PGBASE
    _pg(["pg_ctl", "-D", f"{PGBASE}/data", "-m", "immediate", "stop"])
    shutil.rmtree(PGBASE, ignore_errors=True)


@pytest.fixture(scope="module")
def runners(pg_sock):
    return psql_runners(
        ["runuser", "-u", "postgres", "--", "psql", "-h", pg_sock,
         "-d", "postgres"])


def test_ddl_roles_grants_live(runners):
    execute_sql, execute_query, _ = runners
    for stmt in ddl_script(
        "wrds", "funda", ["gvkey", "fyear", "at_"],
        {"gvkey": "text", "fyear": "integer", "at_": "float8"},
        create_roles=True,
    ):
        execute_sql(stmt)
    roles = {r[0] for r in execute_query(
        "SELECT rolname FROM pg_roles WHERE rolname LIKE 'wrds%'")}
    assert {"wrds", "wrds_access"} <= roles
    assert execute_query(
        "SELECT has_table_privilege('wrds_access', 'wrds.funda', "
        "'SELECT')") == [("t",)]
    cols = execute_query(
        "SELECT column_name, data_type FROM information_schema.columns "
        "WHERE table_schema='wrds' AND table_name='funda' "
        "ORDER BY ordinal_position")
    assert cols == [("gvkey", "text"), ("fyear", "integer"),
                    ("at_", "double precision")]


def test_comment_stamp_roundtrip_live(runners):
    """The quote-doubling encode (comment_sql) and the quote_ident
    read-back (table_comment_query) against the real parser —
    including embedded single quotes."""
    execute_sql, execute_query, _ = runners
    execute_sql('CREATE SCHEMA IF NOT EXISTS "wrds"')
    execute_sql('DROP TABLE IF EXISTS "wrds"."stamped"')
    execute_sql('CREATE TABLE "wrds"."stamped" (x integer)')
    stamp = "Last modified: 2021-01-01 10:00:00, O'Brien's run"
    execute_sql(comment_sql("wrds", "stamped", stamp))
    assert get_table_comment("wrds", "stamped", execute_query) == stamp
    # absent table -> '' (reference ddl.py:7-23 contract)
    assert get_table_comment("wrds", "never_made", execute_query) == ""


def test_update_postgres_copy_roundtrip(spark, runners):
    """End-to-end Spark -> CSV -> COPY -> live table: ints, floats,
    dates, timestamps, NULLs, and text carrying the CSV delimiter,
    doubled quotes and embedded newlines all round-trip exactly."""
    execute_sql, execute_query, copy_csv = runners
    df = spark.createDataFrame(
        [(1, 2.5, "plain", "2024-03-01", "2024-03-01 12:30:45"),
         (2, None, 'a,b "q" c', "2024-03-02", None),
         (3, -0.25, "line1\nline2", None, "2024-03-03 00:00:00"),
         (4, 1e6, None, "2024-03-04", "2024-03-04 23:59:59")],
        "id bigint, v double, note string, d string, ts string",
    ).select(
        "id", "v", "note",
        F.col("d").cast("date").alias("d"),
        F.col("ts").cast("timestamp_ntz").alias("ts"),
    )
    assert update_postgres(
        df, "roundtrip", "wrds",
        execute_sql=execute_sql, copy_csv=copy_csv,
        modified="Last modified: 2026-08-16 00:00:00", force=True,
    )
    # the psql -A reader is line-based, so escape embedded newlines
    # server-side (documented execute_query limitation)
    # (standard_conforming_strings: '\n' is a literal backslash + n)
    rows = execute_query(
        "SELECT id, v, replace(note, E'\\n', '\\n') AS note, d, ts "
        'FROM "wrds"."roundtrip" ORDER BY id')
    assert len(rows) == 4
    by_id = {r[0]: r for r in rows}
    assert by_id["1"] == ("1", "2.5", "plain", "2024-03-01",
                          "2024-03-01 12:30:45")
    assert by_id["2"][1] == ""      # NULL double reads back empty
    assert by_id["2"][2] == 'a,b "q" c'
    assert by_id["3"][2] == "line1\\nline2"
    assert by_id["3"][3] == ""      # NULL date
    # NULL text must be NULL, not empty string (unquoted vs quoted)
    n_null = execute_query(
        'SELECT count(*) FROM "wrds"."roundtrip" WHERE note IS NULL')
    assert n_null == [("1",)]
    assert get_table_comment("wrds", "roundtrip", execute_query) \
        == "Last modified: 2026-08-16 00:00:00"


def test_update_postgres_copy_gate_and_swap(spark, runners):
    """The idempotency gate (needs_update) and the atomic staging
    swap, against the live server: second call with the same stamp is
    a no-op; a newer stamp swaps the new data in and leaves no
    __staging table behind."""
    execute_sql, execute_query, copy_csv = runners
    df1 = spark.range(5).select(F.col("id").cast("bigint").alias("id"))
    stamp = "Last modified: 2025-12-31 00:00:00"
    assert update_postgres(
        df1, "swapped", "wrds", execute_sql=execute_sql,
        copy_csv=copy_csv, modified=stamp)
    sink_stamp = get_table_comment("wrds", "swapped", execute_query)
    assert sink_stamp == stamp
    # same stamp -> gate refuses
    assert not update_postgres(
        df1, "swapped", "wrds", execute_sql=execute_sql,
        copy_csv=copy_csv, modified=stamp, sink_modified=sink_stamp)
    # newer stamp: the staging swap replaces the table
    df2 = spark.range(9).select(F.col("id").cast("bigint").alias("id"))
    assert update_postgres(
        df2, "swapped", "wrds", execute_sql=execute_sql,
        copy_csv=copy_csv, modified="Last modified: 2026-01-01 00:00:00",
        sink_modified=sink_stamp)
    assert execute_query('SELECT count(*) FROM "wrds"."swapped"') \
        == [("9",)]
    assert execute_query(
        "SELECT count(*) FROM information_schema.tables "
        "WHERE table_name = 'swapped__staging'") == [("0",)]


def test_staged_copy_load_keeps_roles_live(spark, runners):
    """create_roles under the staging swap, against the live server:
    the owner, the grant and the stamp made on the staging table carry
    over through the RENAME.  A schema of its own, because CREATE ROLE
    is not idempotent and test_ddl_roles_grants_live made "wrds"."""
    execute_sql, execute_query, copy_csv = runners
    stamp = "Last modified: 2026-02-01 00:00:00"
    df = spark.range(4).select(F.col("id").cast("bigint").alias("id"))
    assert update_postgres(
        df, "held", "staged_roles", execute_sql=execute_sql,
        copy_csv=copy_csv, modified=stamp, create_roles=True)
    assert execute_query(
        "SELECT has_table_privilege('staged_roles_access', "
        "'staged_roles.held', 'SELECT')") == [("t",)]
    assert execute_query(
        "SELECT tableowner FROM pg_tables WHERE schemaname = "
        "'staged_roles' AND tablename = 'held'") == [("staged_roles",)]
    assert execute_query(
        'SELECT count(*) FROM "staged_roles"."held"') == [("4",)]
    assert get_table_comment("staged_roles", "held", execute_query) == stamp
    # no held__staging left behind
    assert execute_query(
        "SELECT table_name FROM information_schema.tables "
        "WHERE table_schema = 'staged_roles'") == [("held",)]


def test_copy_csv_gzip_path(spark, runners, tmp_path):
    """A .gz CSV loads through \\copy FROM PROGRAM 'gzip -cd' — the
    gzip CSV sink's own output is COPY-loadable as the reference's
    gzip->COPY path."""
    import gzip

    execute_sql, execute_query, copy_csv = runners
    execute_sql('DROP TABLE IF EXISTS "wrds"."gz"')
    execute_sql('CREATE TABLE "wrds"."gz" (a integer, b text)')
    p = "/tmp/wrds2pg_spark_pgtest_gz.csv.gz"
    with gzip.open(p, "wt") as f:
        f.write('1,hello\n2,"with,comma"\n')
    os.chmod(p, 0o644)
    try:
        copy_csv("wrds", "gz", p)
        assert execute_query('SELECT a, b FROM "wrds"."gz" ORDER BY a') \
            == [("1", "hello"), ("2", "with,comma")]
    finally:
        os.remove(p)


def test_psql_error_surfaces(runners):
    execute_sql, _, _ = runners
    with pytest.raises(PsqlError):
        execute_sql("SELECT * FROM definitely_not_a_table_xyz")


def test_wrds_update_copy_transport_end_to_end(spark, runners, tmp_path):
    """The FULL reference pipeline against a live server: sas7bdat
    source -> ingest options (drop + rename + where) -> DDL -> COPY ->
    stamp comment -> idempotent re-run.  This is wrds_update exactly
    as a reference user would call it, with the COPY load the
    reference itself uses (wrds2pg/api.py:37-236 +
    postgres/copy.py:36-55)."""
    import pandas as pd

    from wrds2pg_spark.sinks.postgres import get_table_comment
    from wrds2pg_spark.sinks.sas7bdat import write_sas7bdat
    from wrds2pg_spark.update import wrds_update

    execute_sql, execute_query, copy_csv = runners
    src = str(tmp_path / "funda.sas7bdat")
    write_sas7bdat(
        pd.DataFrame({
            "gvkey": ["001", "002", "003", "004"],
            "fyear": [2020.0, 2021.0, 2022.0, 2023.0],
            "at": [1.5, 2.25, None, 4.0],
            "junk": ["x", "y", "z", "w"],
        }), src)
    kwargs = dict(
        execute_sql=execute_sql, execute_query=execute_query,
        copy_csv=copy_csv,
        drop="junk", rename="at=assets", where="fyear >= 2021",
    )
    assert wrds_update(spark, src, "funda", "live", "", **kwargs)
    rows = execute_query(
        'SELECT gvkey, fyear, assets FROM "live"."funda" ORDER BY gvkey')
    assert rows == [("002", "2021", "2.25"), ("003", "2022", ""),
                    ("004", "2023", "4")]
    stamp = get_table_comment("live", "funda", execute_query)
    assert stamp.startswith("Last modified")
    # re-run: the stamp gate must refuse (resolved via execute_query)
    assert wrds_update(spark, src, "funda", "live", "", **kwargs) is False
