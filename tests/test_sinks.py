"""Sinks + incremental layer (SURVEY §2 A16-A27, §5 idempotency
pattern from minimal_test.ipynb: update, re-update is a no-op,
force-update rewrites)."""

from __future__ import annotations

import glob
import gzip
import logging
import os
import shutil
from datetime import datetime

import pytest

from wrds2pg_spark.catalog import (
    get_modified_csv,
    get_modified_pq,
    modified_decode,
    modified_encode,
    needs_update,
    set_modified_csv,
    set_modified_pq,
)
from wrds2pg_spark.sinks.csv import update_csv
from wrds2pg_spark.sinks.parquet import update_parquet
from wrds2pg_spark.sinks.postgres import (
    comment_sql,
    create_table_sql,
    ddl_script,
    pg_types_for,
    update_postgres,
)
from wrds2pg_spark.update import wrds_update_csv, wrds_update_pq

STAMP = "Last modified: 03/14/2024 09:26:53"
STAMP2 = "Last modified: 07/04/2024 12:00:00"


# --- stamp codec -----------------------------------------------------------

def test_modified_roundtrip():
    assert modified_decode(modified_encode(STAMP)) == STAMP


def test_modified_roundtrip_across_dst():
    # One stamp in CST (UTC-6), one in CDT (UTC-5) — the codec must
    # respect America/Chicago wall time on both sides of the switch.
    winter = "Last modified: 01/15/2024 12:00:00"
    summer = "Last modified: 07/15/2024 12:00:00"
    assert modified_encode(summer) - modified_encode(winter) == (
        182 * 86400 - 3600
    )
    for s in (winter, summer):
        assert modified_decode(modified_encode(s)) == s


def test_modified_encode_rejects_garbage():
    with pytest.raises(ValueError):
        modified_encode("03/14/2024 09:26:53")


def test_needs_update_gate():
    assert needs_update(STAMP, "") is True          # no sink stamp yet
    assert needs_update(STAMP, STAMP) is False      # current -> skip
    assert needs_update(STAMP, STAMP2) is True      # stale -> update
    assert needs_update(STAMP, STAMP, force=True) is True
    assert needs_update("", STAMP) is True          # unknown source -> update


# --- parquet sink ----------------------------------------------------------

def test_update_parquet_idempotent(spark, tmp_path):
    df = spark.range(10).withColumnRenamed("id", "n")
    path = str(tmp_path / "t.parquet")

    assert update_parquet(df, path, STAMP) is True
    assert get_modified_pq(path) == STAMP
    assert spark.read.parquet(path).count() == 10

    # same stamp -> no-op; new stamp -> rewrite; force -> rewrite
    assert update_parquet(df, path, STAMP) is False
    assert update_parquet(df, path, STAMP2) is True
    assert update_parquet(df, path, STAMP2, force=True) is True


def test_get_modified_pq_reads_reference_footer(tmp_path):
    # the reference stores the stamp in single-file footer KV metadata
    # (wrds2pg/files/parquet.py:92-94) — we must read those too
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({"a": [1, 2]})
    f = str(tmp_path / "ref.parquet")
    pq.write_table(
        t.replace_schema_metadata({b"last_modified": STAMP.encode()}), f
    )
    assert get_modified_pq(f) == STAMP


def test_get_modified_pq_missing(tmp_path):
    assert get_modified_pq(str(tmp_path / "nope.parquet")) == ""


def test_torn_sidecar_means_stale_and_is_rewritten(spark, tmp_path):
    """A sidecar cut short by a crash reads as '' (needs update), not a
    JSONDecodeError on every later run; the next wrds_update_pq
    rewrites the table and stamps it again."""
    src = tmp_path / "src.parquet"
    spark.range(4).write.parquet(str(src))
    data_dir = str(tmp_path / "lake")
    assert wrds_update_pq(spark, str(src), "t", "s", data_dir=data_dir) is True
    path = os.path.join(data_dir, "s", "t.parquet")
    stamp = get_modified_pq(path)
    assert stamp

    sidecar = os.path.join(path, "_meta.json")
    with open(sidecar) as f:
        text = f.read()
    with open(sidecar, "w") as f:
        f.write(text[: len(text) // 2])
    assert get_modified_pq(path) == ""

    assert wrds_update_pq(spark, str(src), "t", "s", data_dir=data_dir) is True
    assert get_modified_pq(path) == stamp
    assert spark.read.parquet(path).count() == 4


def test_set_modified_pq_failed_write_keeps_old_stamp(tmp_path, monkeypatch):
    """The sidecar is swapped in by rename: a failure before the swap
    leaves the old stamp readable and no temp file behind."""
    from wrds2pg_spark import catalog

    d = tmp_path / "t.parquet"
    d.mkdir()
    set_modified_pq(str(d), STAMP)

    def fail(*args, **kwargs):
        raise OSError("disk full")

    monkeypatch.setattr(catalog.os, "replace", fail)
    with pytest.raises(OSError):
        set_modified_pq(str(d), STAMP2)
    monkeypatch.undo()
    assert get_modified_pq(str(d)) == STAMP
    assert os.listdir(d) == ["_meta.json"]


# --- csv sink --------------------------------------------------------------

def test_update_csv_idempotent_and_readable(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["n", "s"])
    path = str(tmp_path / "t.csv.gz")

    assert update_csv(df, path, STAMP, single_file=True) is True
    assert get_modified_csv(path) == STAMP
    assert update_csv(df, path, STAMP) is False

    parts = glob.glob(os.path.join(path, "*.csv.gz"))
    assert len(parts) == 1
    with gzip.open(parts[0], "rt") as f:
        lines = f.read().strip().splitlines()
    assert lines[0] == "n,s"
    assert sorted(lines[1:]) == ["1,a", "2,b"]


def test_csv_stamp_mtime_roundtrip(tmp_path):
    p = tmp_path / "x"
    p.write_text("data")
    set_modified_csv(str(p), STAMP)
    assert get_modified_csv(str(p)) == STAMP


# --- postgres sink (SQL generation; no server in this container) ----------

def test_create_table_sql_shape():
    sql = create_table_sql(
        "crsp", "dsf", ["permno", "ret"], {"permno": "integer", "ret": "float8"}
    )
    assert sql == 'CREATE TABLE "crsp"."dsf" ("permno" integer, "ret" float8)'


def test_comment_sql_quote_doubling():
    assert comment_sql("s", "t", "it's") == (
        'COMMENT ON TABLE "s"."t" IS \'it\'\'s\''
    )


def test_pg_types_inference_and_override(spark):
    df = spark.createDataFrame([(1, 1.5, "x", True)], ["i", "d", "s", "b"])
    types = pg_types_for(df, col_types={"I": "smallint"})
    assert types == {
        "i": "smallint", "d": "float8", "s": "text", "b": "boolean"
    }


def test_ddl_script_order_with_roles():
    stmts = ddl_script(
        "crsp", "dsf", ["permno"], {"permno": "integer"},
        create_roles=True, modified=STAMP,
    )
    assert stmts[0] == 'CREATE SCHEMA IF NOT EXISTS "crsp"'
    assert 'CREATE ROLE "crsp"' in stmts
    assert 'CREATE ROLE "crsp_access"' in stmts
    assert any(s.startswith("DROP TABLE") for s in stmts)
    create_idx = next(i for i, s in enumerate(stmts) if "CREATE TABLE" in s)
    grant_idx = next(i for i, s in enumerate(stmts) if "GRANT SELECT" in s)
    assert create_idx < grant_idx
    assert stmts[-1].startswith("COMMENT ON TABLE")


def test_update_postgres_gate_skips_without_touching_engine(spark):
    df = spark.range(1)
    called = []
    out = update_postgres(
        df, "t", "s", "jdbc:postgresql://nowhere/db",
        modified=STAMP, sink_modified=STAMP, execute_sql=called.append,
    )
    assert out is False and called == []


# --- façade ---------------------------------------------------------------

def test_wrds_update_pq_end_to_end(spark, tmp_path):
    src = tmp_path / "src.parquet"
    spark.createDataFrame(
        [(1, "KEEP", 10.0), (2, "DROP", 20.0), (3, "KEEP", 30.0)],
        ["ID", "Flag", "Val"],
    ).write.parquet(str(src))

    data_dir = str(tmp_path / "lake")
    wrote = wrds_update_pq(
        spark, str(src), "mytab", "myschema",
        data_dir=data_dir, where="flag = 'KEEP'", rename="val=value",
    )
    assert wrote is True
    out = spark.read.parquet(os.path.join(data_dir, "myschema", "mytab.parquet"))
    assert sorted(out.columns) == ["flag", "id", "value"]
    assert out.count() == 2

    # second run: source unchanged -> gate skips
    assert wrds_update_pq(
        spark, str(src), "mytab", "myschema",
        data_dir=data_dir, where="flag = 'KEEP'", rename="val=value",
    ) is False

    # force rewrites the unchanged source: the new options show
    assert wrds_update_pq(
        spark, str(src), "mytab", "myschema", data_dir=data_dir, force=True,
    ) is True
    out = spark.read.parquet(os.path.join(data_dir, "myschema", "mytab.parquet"))
    assert out.count() == 3

    # a vanished source has stamp '' and still goes to the read, which
    # raises, rather than skipping against the stamped sink
    from pyspark.errors import AnalysisException

    shutil.rmtree(src)
    with pytest.raises(AnalysisException):
        wrds_update_pq(spark, str(src), "mytab", "myschema", data_dir=data_dir)


def test_wrds_update_csv_end_to_end(spark, tmp_path):
    src = tmp_path / "src.parquet"
    spark.range(5).withColumnRenamed("id", "n").write.parquet(str(src))
    data_dir = str(tmp_path / "csvlake")
    assert wrds_update_csv(
        spark, str(src), "t", "s", data_dir=data_dir, obs=3, single_file=True
    ) is True
    path = os.path.join(data_dir, "s", "t.csv.gz")
    assert wrds_update_csv(
        spark, str(src), "t", "s", data_dir=data_dir, obs=3
    ) is False
    parts = glob.glob(os.path.join(path, "*.csv.gz"))
    with gzip.open(parts[0], "rt") as f:
        assert len(f.read().strip().splitlines()) == 4  # header + 3 rows

    # force rewrites the unchanged source under the new options
    assert wrds_update_csv(
        spark, str(src), "t", "s", data_dir=data_dir, obs=2,
        single_file=True, force=True,
    ) is True
    parts = glob.glob(os.path.join(path, "*.csv.gz"))
    with gzip.open(parts[0], "rt") as f:
        assert len(f.read().strip().splitlines()) == 3


def test_wrds_update_pg_gate(spark, tmp_path):
    """The PG façade honors the stamp gate without touching the
    engine (full write path needs a live PG + JDBC driver)."""
    from wrds2pg_spark.update import source_modified, wrds_update

    src = tmp_path / "src.parquet"
    spark.range(3).write.parquet(str(src))
    stamp = source_modified(str(src))
    called = []
    assert wrds_update(
        spark, str(src), "t", "s", "jdbc:postgresql://nowhere/db",
        sink_modified=stamp, execute_sql=called.append,
    ) is False
    assert called == []


@pytest.mark.parametrize("entry", ["pq", "csv", "pg_jdbc", "pg_copy"])
def test_up_to_date_call_reads_no_source_and_runs_no_job(
    spark, tmp_path, monkeypatch, capsys, caplog, entry
):
    """An up-to-date table is settled by the stamps alone, as in the
    reference (wrds2pg/api.py:174-194): the source is not read, no
    ingest plan is built and Spark runs no job.  The message goes to
    logging, not stdout."""
    from wrds2pg_spark import update

    src = tmp_path / "src.parquet"
    spark.range(3).write.parquet(str(src))
    stamp = update.source_modified(str(src))
    data_dir = str(tmp_path / "lake")
    seams = dict(execute_sql=lambda sql: None)
    if entry == "pg_copy":
        seams["copy_csv"] = lambda *a, **k: None

    def call():
        if entry == "pq":
            return update.wrds_update_pq(
                spark, str(src), "t", "s", data_dir=data_dir, obs=2)
        if entry == "csv":
            return update.wrds_update_csv(
                spark, str(src), "t", "s", data_dir=data_dir, obs=2)
        return update.wrds_update(
            spark, str(src), "t", "s", "jdbc:postgresql://nowhere/db",
            sink_modified=stamp, obs=2, **seams)

    if entry in ("pq", "csv"):
        assert call() is True  # first write stamps the sink

    def boom(*args, **kwargs):
        raise AssertionError("an up-to-date source was read")

    monkeypatch.setattr(update, "read_source", boom)
    monkeypatch.setattr(update, "apply_options", boom)
    sc = spark.sparkContext
    group = f"up_to_date_{entry}"
    capsys.readouterr()
    sc.setJobGroup(group, "stamp check only")
    try:
        with caplog.at_level(logging.INFO, logger="wrds2pg_spark.update"):
            assert call() is False
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert capsys.readouterr().out == ""
    assert "already up to date" in caplog.text


def test_wrds_update_pq_alt_table_name(spark, tmp_path):
    """alt_table_name renames on load (wrds2pg/api.py:359-362): the
    sink lands under the alternate name, source read under the real."""
    src = tmp_path / "dsf.parquet"
    spark.range(4).write.parquet(str(src))
    data_dir = str(tmp_path / "lake")
    assert wrds_update_pq(
        spark, str(src), "dsf", "crsp",
        data_dir=data_dir, alt_table_name="dsf_new",
    ) is True
    out = os.path.join(data_dir, "crsp", "dsf_new.parquet")
    assert spark.read.parquet(out).count() == 4
    assert not os.path.exists(os.path.join(data_dir, "crsp", "dsf.parquet"))

    # the stamp check reads the alternate table's sink, not table_name's:
    # a current dsf_new skips, an unstamped dsf_old still loads
    assert wrds_update_pq(
        spark, str(src), "dsf", "crsp",
        data_dir=data_dir, alt_table_name="dsf_new",
    ) is False
    assert wrds_update_pq(
        spark, str(src), "dsf", "crsp",
        data_dir=data_dir, alt_table_name="dsf_old",
    ) is True
    assert spark.read.parquet(
        os.path.join(data_dir, "crsp", "dsf_old.parquet")).count() == 4


def test_wrds_update_pq_sas_schema(spark, tmp_path):
    """sas_schema parity (wrds2pg/api.py:47,134-136,166-167): data
    is read from the sas_schema library but stored under schema."""
    src_lib = tmp_path / "src" / "crspq"       # SAS library differs...
    src_lib.mkdir(parents=True)
    spark.range(5).write.parquet(str(src_lib / "dsf.parquet"))
    data_dir = str(tmp_path / "lake")
    assert wrds_update_pq(
        spark, None, "dsf", "crsp",            # ...from the PG schema
        data_dir=data_dir, source_dir=str(tmp_path / "src"),
        sas_schema="crspq",
    ) is True
    out = os.path.join(data_dir, "crsp", "dsf.parquet")
    assert spark.read.parquet(out).count() == 5
    # default: sas_schema falls back to schema (api.py:166-167)
    src_same = tmp_path / "src" / "comp"
    src_same.mkdir()
    spark.range(3).write.parquet(str(src_same / "funda.parquet"))
    assert wrds_update_pq(
        spark, None, "funda", "comp",
        data_dir=data_dir, source_dir=str(tmp_path / "src"),
    ) is True
    assert spark.read.parquet(
        os.path.join(data_dir, "comp", "funda.parquet")
    ).count() == 3
    # missing source surfaces as FileNotFoundError, not a silent skip
    with pytest.raises(FileNotFoundError):
        wrds_update_pq(
            spark, None, "nosuch", "comp",
            data_dir=data_dir, source_dir=str(tmp_path / "src"),
        )


def test_csv_encoding_wlatin1_roundtrip(spark, tmp_path):
    """Latin-1 WRDS tables (reference test_encoding.ipynb): bytes
    written as windows-1252 read back intact through encoding=wlatin1,
    and WRONG decoding would visibly mangle the accented chars."""
    from wrds2pg_spark.sources.csv import read_csv_typed

    src = tmp_path / "enc.csv"
    text = "id,name\n1,Café Müller\n2,Societé Générale\n"
    src.write_bytes(text.encode("windows-1252"))

    df = read_csv_typed(
        spark, str(src), {"id": "integer", "name": "text"},
        encoding="wlatin1",
    )
    names = {r["id"]: r["name"] for r in df.collect()}
    assert names == {1: "Café Müller", 2: "Societé Générale"}

    # round-trip: write back as windows-1252 via copy_encoding
    out_dir = tmp_path / "out"
    from wrds2pg_spark.sinks.csv import update_csv

    assert update_csv(df, str(out_dir), STAMP, single_file=True,
                      encoding="wlatin1") is True
    part = glob.glob(os.path.join(str(out_dir), "*.csv.gz"))[0]
    with gzip.open(part, "rb") as f:
        raw = f.read()
    assert "Café Müller".encode("windows-1252") in raw
    assert "Café Müller".encode() not in raw  # NOT utf-8


def _record_jdbc_writes(monkeypatch) -> list[dict]:
    """Stub out the JDBC write: each ``save`` appends the options the
    writer was given, so a test sees what a connection would get."""
    from pyspark.sql import DataFrameWriter

    option = DataFrameWriter.option
    saved = []

    def record_option(self, key, value):
        self.__dict__.setdefault("_recorded", {})[key] = value
        return option(self, key, value)

    monkeypatch.setattr(DataFrameWriter, "option", record_option)
    monkeypatch.setattr(
        DataFrameWriter, "save",
        lambda self, *a, **k: saved.append(self.__dict__.get("_recorded", {})))
    return saved


def test_update_postgres_tz_session_init(spark, monkeypatch):
    """tz lands as the JDBC connection's SET TimeZone statement
    (reference wrds2pg/postgres/copy.py:42-43), on the staging table."""
    saved = _record_jdbc_writes(monkeypatch)
    assert update_postgres(
        spark.range(1), "t", "s", "jdbc:postgresql://nowhere:1/db",
        modified=STAMP, execute_sql=lambda sql: None, tz="America/Chicago",
    ) is True
    assert len(saved) == 1
    assert saved[0]["sessionInitStatement"] == "SET TimeZone TO 'America/Chicago'"
    assert saved[0]["dbtable"] == '"s"."t__staging"'


def test_update_postgres_staging_swap_is_one_statement(spark, monkeypatch):
    """Every load goes through ``t__staging``, and the DROP and RENAME
    reach execute_sql as ONE string, last: on a runner where every call
    is its own connection (psql_runners), separate calls would leave
    readers without a table between them and no table at all after a
    failure mid-swap.  The stamp comment is made on the staging table,
    so it goes live with the data in that statement."""
    _record_jdbc_writes(monkeypatch)
    called = []
    assert update_postgres(
        spark.range(1), "t", "s", "jdbc:postgresql://nowhere:1/db",
        modified=STAMP, execute_sql=called.append,
    ) is True
    assert any('CREATE TABLE "s"."t__staging"' in c for c in called)
    assert comment_sql("s", "t__staging", STAMP) in called
    assert called[-1] == (
        'BEGIN; DROP TABLE IF EXISTS "s"."t" CASCADE; '
        'ALTER TABLE "s"."t__staging" RENAME TO "t"; COMMIT')
    # nothing before the swap touches the live table
    assert not any('"s"."t" ' in c for c in called[:-1])
    assert "BEGIN" not in called


def test_staged_load_keeps_create_roles(spark, monkeypatch):
    """create_roles holds under the staging swap: the owner and the
    grant are made on ``t__staging`` before the swap, and carry over
    through the RENAME (live: test_staged_copy_load_keeps_roles_live)."""
    _record_jdbc_writes(monkeypatch)
    called = []
    assert update_postgres(
        spark.range(1), "t", "s", "jdbc:postgresql://nowhere:1/db",
        modified=STAMP, execute_sql=called.append, create_roles=True,
    ) is True
    swap = len(called) - 1
    assert called[swap].startswith("BEGIN; DROP TABLE")
    owner = called.index('ALTER TABLE "s"."t__staging" OWNER TO "s"')
    grant = called.index('GRANT SELECT ON "s"."t__staging" TO "s_access"')
    assert called.index('CREATE ROLE "s_access"') < owner < grant < swap


def test_wrds_update_without_execute_sql_raises_before_any_job(spark, tmp_path):
    """Without execute_sql there is no DDL, swap or stamp: the load
    would append the full table on every call.  It fails loudly before
    the source is read."""
    from wrds2pg_spark.update import wrds_update

    src = tmp_path / "src.csv"
    src.write_text("a,b\n1,2\n")
    sc = spark.sparkContext
    group = "pg_without_execute_sql"
    sc.setJobGroup(group, "must fail before any job")
    try:
        with pytest.raises(ValueError, match="execute_sql"):
            wrds_update(spark, str(src), "t", "s", "jdbc:postgresql://nowhere:1/db")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_write_sorted_rowgroup_stats_disjoint(spark, tmp_path):
    """write_sorted must produce files whose row-group min/max ranges
    on the sort key are tight and pairwise disjoint ACROSS files —
    that is the property the parquet reader's predicate pushdown
    prunes on."""
    import pyarrow.parquet as pq

    from wrds2pg_spark.sinks.parquet import write_sorted
    from wrds2pg_spark.sources.testdata import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    out = str(tmp_path / "li_sorted")
    write_sorted(li, out, ["l_shipdate"], num_files=4)

    ranges = []
    for f in sorted(os.listdir(out)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, f)).metadata
        idx = md.schema.to_arrow_schema().get_field_index("l_shipdate")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            ranges.append((st.min, st.max))
    assert len(ranges) >= 2
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "row-group ranges overlap — no skipping possible"

    # and a range predicate on the sorted column reaches the scan
    got = spark.read.parquet(out).filter("l_shipdate >= '1995-01-01'")
    plan = got._sc._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan and "l_shipdate" in plan


# --- A22 read side: comment stamp read-back --------------------------------

def test_get_table_comment_query_and_parse():
    """get_table_comment (reference postgres/ddl.py:7-23): the query
    goes through quote_ident/obj_description, and the parse handles
    rows, scalars, missing table (None/empty) uniformly."""
    from wrds2pg_spark.sinks.postgres import (
        get_table_comment, table_comment_query,
    )

    q = table_comment_query("crsp", "dsf")
    assert "obj_description" in q and "to_regclass" in q
    assert "quote_ident('crsp')" in q and "quote_ident('dsf')" in q

    assert get_table_comment("s", "t", lambda sql: [(STAMP,)]) == STAMP
    assert get_table_comment("s", "t", lambda sql: [[STAMP]]) == STAMP
    assert get_table_comment("s", "t", lambda sql: [(None,)]) == ""
    assert get_table_comment("s", "t", lambda sql: []) == ""
    assert get_table_comment("s", "t", lambda sql: None) == ""


def test_wrds_update_self_resolves_sink_stamp(spark, tmp_path):
    """With an execute_query seam, wrds_update reads the sink stamp
    itself (reference api.py:175) — the second call short-circuits
    without the caller passing sink_modified."""
    from wrds2pg_spark.sinks.postgres import table_comment_query
    from wrds2pg_spark.update import source_modified, wrds_update

    src = tmp_path / "src.parquet"
    spark.range(3).write.parquet(str(src))
    stamp = source_modified(str(src))

    comments = {("s", "t"): stamp}  # simulated live table comment

    def execute_query(sql):
        assert sql == table_comment_query("s", "t")
        return [(comments.get(("s", "t")),)]

    called = []
    assert wrds_update(
        spark, str(src), "t", "s", "jdbc:postgresql://nowhere/db",
        execute_sql=called.append, execute_query=execute_query,
    ) is False
    assert called == []

    # absent comment -> gate opens (DDL starts; JDBC write to nowhere
    # then fails, which is fine — the gate decision already happened)
    comments[("s", "t")] = ""
    try:
        wrds_update(
            spark, str(src), "t", "s", "jdbc:postgresql://nowhere:1/db",
            execute_sql=called.append, execute_query=execute_query,
        )
    except Exception:
        pass
    assert any("CREATE TABLE" in s for s in called)


# --- sas_encoding kwarg parity --------------------------------------------

def test_sas_encoding_alias(spark, tmp_path, recwarn):
    """sas_encoding (reference api.py:48) is accepted as an alias of
    encoding; both set and differing warns and encoding wins."""
    import warnings

    from wrds2pg_spark.update import resolve_encoding, wrds_update_csv

    assert resolve_encoding(None, "latin1") == "latin1"
    assert resolve_encoding("utf-8", None) == "utf-8"
    assert resolve_encoding(None, None) is None
    with pytest.warns(UserWarning, match="differ"):
        assert resolve_encoding("utf-8", "latin1") == "utf-8"
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # same value: no warning
        assert resolve_encoding("utf-8", "utf-8") == "utf-8"

    src = tmp_path / "enc.csv"
    src.write_bytes("id,name\n1,Café\n".encode("windows-1252"))
    out = str(tmp_path / "lake")
    assert wrds_update_csv(
        spark, str(src), "enc", "s", data_dir=out,
        sas_encoding="wlatin1", single_file=True,
    ) is True
    part = glob.glob(os.path.join(out, "s", "enc.csv.gz", "*.csv.gz"))
    assert part, "csv sink missing"
    with gzip.open(part[0], "rt", encoding="utf-8") as f:
        assert "Café" in f.read()


def test_wrds_update_pq_sas7bdat_content_stamp_gates(
    spark, tmp_path, monkeypatch
):
    """A16 end-to-end: wrds_update_pq over a sas7bdat source keys its
    incremental gate on the dataset's HEADER stamp. A touched (or
    re-copied) file whose header didn't change must skip without
    reading the source; a rewrite with a new header timestamp must
    reload (mirrors the reference's minimal_test.ipynb idempotency,
    wrds2pg/sas/metadata.py:79-113)."""
    from datetime import datetime

    import pandas as pd

    from wrds2pg_spark import update
    from wrds2pg_spark.paths import get_pq_path
    from wrds2pg_spark.sinks.sas7bdat import write_sas7bdat

    def write_sas(path, modified_dt, rets):
        secs = (modified_dt - datetime(1960, 1, 1)).total_seconds()
        write_sas7bdat(
            pd.DataFrame({"PERMNO": [1.0, 2.0], "RET": rets}), str(path),
            modified_secs=secs)

    def loaded():
        back = spark.read.parquet(get_pq_path("funds", "crsp", data_dir))
        return sorted(tuple(r) for r in back.collect())

    src = tmp_path / "funds.sas7bdat"
    data_dir = str(tmp_path / "lake")
    write_sas(src, datetime(2022, 5, 1, 10, 0, 0), [0.1, 0.2])
    assert update.wrds_update_pq(
        spark, str(src), "funds", "crsp", data_dir=data_dir) is True
    assert loaded() == [(1.0, 0.1), (2.0, 0.2)]

    def boom(*args, **kwargs):
        raise AssertionError("an up-to-date source was read")

    os.utime(src, (1e9, 1.7e9))  # touched/copied: content unchanged
    with monkeypatch.context() as m:
        m.setattr(update, "read_source", boom)
        assert update.wrds_update_pq(
            spark, str(src), "funds", "crsp", data_dir=data_dir) is False

    write_sas(src, datetime(2022, 6, 1, 10, 0, 0), [0.3, 0.4])  # SAS rewrote it
    assert update.wrds_update_pq(
        spark, str(src), "funds", "crsp", data_dir=data_dir) is True
    assert loaded() == [(1.0, 0.3), (2.0, 0.4)]


def test_wrds_update_pq_sas7bdat_lake_all_missing_char_in_first_file(
    spark, tmp_path
):
    """A char column that is all-missing in the first file is still a
    string column: the schema is inferred from the raw SAS types, and
    every file's batches are cast to it, so a later file's real
    strings load instead of failing the Arrow read."""
    import pandas as pd

    from wrds2pg_spark.paths import get_pq_path
    from wrds2pg_spark.sinks.sas7bdat import write_sas7bdat

    src = tmp_path / "src"
    src.mkdir()
    write_sas7bdat(
        pd.DataFrame({"ID": [1.0, 2.0],
                      "NM": pd.Series([None, None], dtype=object)}),
        str(src / "a.sas7bdat"))
    write_sas7bdat(pd.DataFrame({"ID": [3.0], "NM": ["x"]}),
                   str(src / "b.sas7bdat"))
    data_dir = str(tmp_path / "lake")
    assert wrds_update_pq(
        spark, str(src / "*.sas7bdat"), "t", "s", data_dir=data_dir) is True
    back = spark.read.parquet(get_pq_path("t", "s", data_dir))
    assert dict(back.dtypes) == {"id": "double", "nm": "string"}
    assert sorted(tuple(r) for r in back.collect()) == [
        (1.0, None), (2.0, None), (3.0, "x")]


def _write_sas(path, modified_dt, ids):
    import pandas as pd

    from wrds2pg_spark.sinks.sas7bdat import write_sas7bdat

    secs = (modified_dt - datetime(1960, 1, 1)).total_seconds()
    write_sas7bdat(pd.DataFrame({"ID": ids}), str(path), modified_secs=secs)


@pytest.mark.parametrize("change, ids", [
    ("rewrite_newer", [2.0, 3.0]),
    ("add_older", [1.0, 2.0, 9.0]),
    ("remove_older", [2.0]),
    ("dir_rewrite_newer", [2.0, 3.0]),
])
def test_wrds_update_pq_sas7bdat_glob_lake_stamp_gates(
    spark, tmp_path, change, ids
):
    """A second run over an unchanged glob lake skips without a Spark
    job, and each change to the lake reloads it: SAS rewriting a file
    with a newer header stamp, and — where the newest header stamp
    does not move — adding a file with an older stamp or removing one
    that is not the newest.  A ``dir_`` case names the lake by its
    directory instead of a glob: it reads through the sas7bdat reader,
    and an in-place rewrite, which leaves the directory's mtime alone,
    still reloads it."""
    from wrds2pg_spark.paths import get_pq_path

    src = tmp_path / "src"
    src.mkdir()
    _write_sas(src / "a.sas7bdat", datetime(2022, 5, 1, 10), [1.0])
    _write_sas(src / "c.sas7bdat", datetime(2022, 5, 3, 10), [2.0])
    # One fixed past fs time, so the change below moves the lake's fs
    # times by more than the stamp's one-second resolution.
    past = datetime(2023, 1, 1).timestamp()
    for p in [*src.iterdir(), src]:
        os.utime(p, (past, past))
    lake = str(src) if change.startswith("dir_") else str(src / "*.sas7bdat")
    data_dir = str(tmp_path / "lake")
    assert wrds_update_pq(spark, lake, "t", "s", data_dir=data_dir) is True

    sc = spark.sparkContext
    group = f"glob_lake_up_to_date_{change}"
    sc.setJobGroup(group, "stamp check only")
    try:
        assert wrds_update_pq(
            spark, lake, "t", "s", data_dir=data_dir) is False
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    if change.endswith("rewrite_newer"):
        _write_sas(src / "a.sas7bdat", datetime(2022, 6, 1, 10), [3.0])
    elif change == "add_older":
        _write_sas(src / "b.sas7bdat", datetime(2022, 5, 2, 10), [9.0])
    else:
        (src / "a.sas7bdat").unlink()
    assert wrds_update_pq(spark, lake, "t", "s", data_dir=data_dir) is True
    back = spark.read.parquet(get_pq_path("t", "s", data_dir))
    assert sorted(r["id"] for r in back.collect()) == ids


# --- small-file compaction (round 8) ---------------------------------------

def test_compact_small_files_collapses_and_preserves(spark, tmp_path):
    """compact_small_files must (a) cut file count to ~total/target,
    (b) keep every row/value intact, (c) leave the caller's session
    conf untouched (it tunes an isolated child session)."""
    from pyspark.sql import functions as F

    from wrds2pg_spark.sinks.parquet import compact_small_files

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compacted")
    df = spark.range(5000).select(
        F.col("id"),
        (F.col("id") % 97).alias("grp"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    df.repartition(40).write.parquet(src)
    n_src = len(glob.glob(os.path.join(src, "*.parquet")))
    assert n_src == 40

    total = sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(src, "*.parquet")))
    before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    compact_small_files(spark, src, dst, target_bytes=max(total // 3, 1))
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == before

    n_dst = len(glob.glob(os.path.join(dst, "*.parquet")))
    assert 1 <= n_dst <= 6, f"expected ~3-4 compacted files, got {n_dst}"

    back = spark.read.parquet(dst)
    assert back.count() == 5000
    # exact multiset equality of all rows
    assert (
        back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0
    )


def test_compact_small_files_single_large_target(spark, tmp_path):
    """A target larger than the whole lake packs to exactly one file."""
    from wrds2pg_spark.sinks.parquet import compact_small_files

    src = str(tmp_path / "frag1")
    dst = str(tmp_path / "one")
    spark.range(100).repartition(8).write.parquet(src)
    compact_small_files(spark, src, dst, target_bytes=1 << 30)
    assert len(glob.glob(os.path.join(dst, "*.parquet"))) == 1
    assert spark.read.parquet(dst).count() == 100
