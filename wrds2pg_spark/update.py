"""The ETL front door: ``wrds_update_pq`` / ``wrds_update_csv`` /
``wrds_update``, the Spark equivalents of the reference's entry points
(wrds2pg/api.py:238-432, :434-584, :37-236).

All three run one body, ``_read_if_stale``: resolve the source, stamp
it, compare the stamp with the sink's, and only when the sink is stale
read the source and apply the ingest options (SURVEY §3).  Each entry
point adds just its sink's stamp read and its write call, which stores
the new stamp with the data.  Where the reference makes three SAS
round-trips per update (stamp, data, metadata), Spark needs one plan:
schema comes with the read and transforms ride the same plan.

The stamp check runs before the source is opened, as the reference's
does (wrds2pg/api.py:174-194): an up-to-date table costs the two stamp
reads and no source read, plan or Spark job.  So option errors, such
as a ``keep`` that names a missing column, surface only on a call that
writes, as in the reference.  The sinks keep their own check for
callers that hand them a DataFrame directly.

Sources are local parquet, CSV and sas7bdat files, globs and
directories; ``_source_kind`` is the one place that tells them apart,
for both the reader and the stamp.  There is no SAS server in this
world, so the ``wrds_id``/SSH surface is intentionally absent.
"""

from __future__ import annotations

import glob
import logging
import os
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession

from wrds2pg_spark.catalog import (
    get_modified_csv, get_modified_pq, modified_decode, needs_update,
)
from wrds2pg_spark.paths import get_csv_path, get_pq_path
from wrds2pg_spark.plans.ingest import IngestOptions, apply_options
from wrds2pg_spark.sinks.csv import update_csv
from wrds2pg_spark.sinks.parquet import update_parquet
from wrds2pg_spark.sinks.postgres import get_table_comment, update_postgres

__all__ = [
    "read_source", "resolve_source", "source_modified",
    "wrds_update", "wrds_update_pq", "wrds_update_csv",
]

# source extension -> kind, in resolve_source's probe order
_SOURCE_KINDS = {
    ".parquet": "parquet", ".pq": "parquet", ".sas7bdat": "sas7bdat",
    ".csv": "csv", ".csv.gz": "csv",
}

log = logging.getLogger(__name__)


def resolve_source(
    source_path: str | None,
    table_name: str,
    schema: str,
    sas_schema: str | None = None,
    source_dir: str | None = None,
) -> str:
    """Resolve where the source data lives, honoring the reference's
    ``sas_schema`` kwarg (wrds2pg/api.py:47,134-136,166-167): the SAS
    library the *data comes from* may differ from the schema the
    *table lands in*.  Precedence mirrors the reference: an explicit
    ``source_path`` subsumes everything (it names the file directly);
    otherwise the source is ``source_dir/(sas_schema or schema)/
    table_name.<ext>`` — api.py:166-167's ``sas_schema = sas_schema
    or schema`` default — probing the lake's known extensions.
    ``source_dir`` falls back to $SOURCE_DIR then $DATA_DIR."""
    if source_path:
        return source_path
    lib = sas_schema or schema
    base = (
        source_dir
        or os.environ.get("SOURCE_DIR")
        or os.environ.get("DATA_DIR")
    )
    if not base:
        raise ValueError(
            "No source_path given: provide source_dir or set "
            "$SOURCE_DIR/$DATA_DIR so sas_schema can be resolved"
        )
    for ext in _SOURCE_KINDS:
        cand = os.path.join(base, lib, table_name + ext)
        if os.path.exists(cand):
            return cand
    raise FileNotFoundError(
        f"No source for {lib}.{table_name} under {base} "
        f"(tried {', '.join(_SOURCE_KINDS)})"
    )


def source_modified(source_path: str) -> str:
    """Source stamp in the reference's 'Last modified:' format.

    A sas7bdat file uses the dataset's OWN header timestamp — the
    content stamp PROC CONTENTS reports and the reference scrapes
    (wrds2pg/sas/metadata.py:79-113) — so a touched/copied file whose
    content didn't change does not trigger a reload (the header wall
    time renders directly, matching how the reference stores the
    scraped listing string).  Everything else, and any unparseable
    sas7bdat, falls back to fs mtime.  A sas7bdat lake (a glob, or a
    directory of ``*.sas7bdat`` files) stamps as the newest of its
    files' own stamps, their fs mtimes and their directories' mtimes:
    the header stamps alone would miss a file added with an older
    stamp, a removed file or a file copied over in place, so any add,
    remove or rewrite reloads the lake and an unchanged lake skips.
    '' (always update) when nothing matches."""
    if _source_kind(source_path) == "sas7bdat":
        if os.path.isfile(source_path):
            return modified_decode(_sas_stamp(source_path))
        from wrds2pg_spark.sources.sas7bdat import _expand

        try:
            files = _expand(source_path)
        except FileNotFoundError:
            return ""
        dirs = {os.path.dirname(os.path.abspath(f)) for f in files}
        return modified_decode(max(
            *(_sas_stamp(f) for f in files),
            *(os.path.getmtime(p) for p in (*files, *dirs))))
    if not os.path.exists(source_path):
        return ""
    return modified_decode(os.path.getmtime(source_path))


def _source_kind(source_path: str) -> str:
    """``"sas7bdat"``, ``"parquet"`` or ``"csv"``: the one decision both
    ``read_source`` and ``source_modified`` key on.  A directory is a
    sas7bdat lake when it holds ``*.sas7bdat`` files and a parquet
    table otherwise; anything else goes by its extension."""
    if os.path.isdir(source_path):
        lake = glob.glob(os.path.join(source_path, "*.sas7bdat"))
        return "sas7bdat" if lake else "parquet"
    for ext, kind in _SOURCE_KINDS.items():
        if source_path.lower().endswith(ext):
            return kind
    raise ValueError(f"Unsupported source: {source_path}")


def _sas_stamp(path: str) -> float:
    """One sas7bdat file's stamp as epoch seconds: its header
    timestamp, or the fs mtime when the header does not parse."""
    from wrds2pg_spark.catalog import _FMT, _PREFIX, modified_encode
    from wrds2pg_spark.sources.sas7bdat import header_modified

    dt = header_modified(path)
    if dt is None:
        return os.path.getmtime(path)
    # Normalize through the encode/decode pair: identity for valid
    # Chicago wall times, and a FIXED POINT for wall times inside the
    # DST spring-forward gap (possible when the SAS server sits in
    # another zone) — without this, a gap time would re-decode one
    # hour later from the CSV sink's mtime store and needs_update
    # would reload forever (round-6 review finding).
    return modified_encode(dt.strftime(_PREFIX + _FMT))


def resolve_encoding(
    encoding: str | None, sas_encoding: str | None
) -> str | None:
    """Reconcile the reference's two encoding knobs (wrds2pg/api.py:48:
    ``encoding`` re-encodes the output, ``sas_encoding`` sets the SAS
    session charset).  This world has a single charset boundary — the
    source file read — so the two collapse to one value; when both are
    given and differ, ``encoding`` wins (it is the knob the reference
    applies last) and a warning records the discarded value."""
    if sas_encoding and encoding and sas_encoding != encoding:
        import warnings

        warnings.warn(
            f"encoding={encoding!r} and sas_encoding={sas_encoding!r} "
            "differ; this engine has one charset boundary (the source "
            f"read) — using encoding={encoding!r}",
            stacklevel=4,
        )
    return encoding or sas_encoding


def read_source(
    spark: SparkSession, source_path: str, encoding: str | None = None,
    obs: int | None = None,
) -> DataFrame:
    """Read the source with the reader for its ``_source_kind``.
    ``encoding`` applies to CSV sources (the reference's
    ``encoding``/``sas_encoding``, wrds2pg/api.py:48; parquet carries
    its own encoding).  ``obs`` keeps only the first rows: the sas7bdat
    reader stops its decode there (see ``read_sas7bdat``), the others
    take a Spark ``limit``."""
    kind = _source_kind(source_path)
    if kind == "sas7bdat":
        # the file's own header carries its charset (the reference's
        # sas_encoding sets the remote SAS session; no session here)
        from wrds2pg_spark.sources.sas7bdat import read_sas7bdat

        return read_sas7bdat(spark, source_path, obs=obs)
    if kind == "parquet":
        df = spark.read.parquet(source_path)
    else:
        reader = spark.read.option("header", "true")
        if encoding:
            from wrds2pg_spark.sources.csv import (
                _enable_full_charsets, normalize_encoding,
            )

            charset = normalize_encoding(encoding)
            _enable_full_charsets(spark, charset)
            reader = reader.option("encoding", charset)
        df = reader.csv(source_path)
    return df if obs is None else df.limit(int(obs))


def _read_if_stale(
    spark: SparkSession,
    source_path: str | None,
    table_name: str,
    schema: str,
    sink_modified: str,
    target: str,
    *,
    source_dir: str | None,
    sas_schema: str | None,
    force: bool,
    encoding: str | None,
    sas_encoding: str | None,
    ingest_kwargs: dict,
) -> tuple[DataFrame, str] | None:
    """The body every entry point shares: resolve the source and stamp
    it, then, unless ``sink_modified`` (the stamp ``target`` holds)
    shows it up to date, read it and apply the ingest options.  Returns
    the frame and the source stamp the sink stores with it, or None
    when ``target`` is up to date; that case reads no source and runs
    no Spark job.  The gate rules are ``catalog.needs_update``'s."""
    encoding = resolve_encoding(encoding, sas_encoding)
    source_path = resolve_source(
        source_path, table_name, schema, sas_schema, source_dir
    )
    modified = source_modified(source_path)
    if not needs_update(modified, sink_modified, force):
        log.info("%s already up to date", target)
        return None
    opts = IngestOptions(**ingest_kwargs)
    # the reader takes the first obs rows, so the chain skips its limit
    df = apply_options(
        read_source(spark, source_path, encoding, opts.obs),
        replace(opts, obs=None),
    )
    return df, modified


def wrds_update_pq(
    spark: SparkSession,
    source_path: str | None,
    table_name: str,
    schema: str,
    *,
    data_dir: str | None = None,
    source_dir: str | None = None,
    force: bool = False,
    alt_table_name: str | None = None,
    encoding: str | None = None,
    sas_schema: str | None = None,
    sas_encoding: str | None = None,
    **ingest_kwargs,
) -> bool:
    """Source file -> ingest options -> parquet lake table, gated on
    the source's modified stamp (wrds2pg/api.py:238-432).

    ``alt_table_name`` renames the table on load (source is read under
    ``table_name``, the sink lands under the alternate —
    wrds2pg/api.py:359-362).  ``sas_schema`` names the library the
    data comes *from* when it differs from the target ``schema``
    (api.py:47,327-329); it resolves the source location when
    ``source_path`` is None — see ``resolve_source``."""
    pq_path = get_pq_path(alt_table_name or table_name, schema, data_dir)
    loaded = _read_if_stale(
        spark, source_path, table_name, schema,
        get_modified_pq(pq_path), pq_path,
        source_dir=source_dir, sas_schema=sas_schema, force=force,
        encoding=encoding, sas_encoding=sas_encoding,
        ingest_kwargs=ingest_kwargs,
    )
    if loaded is None:
        return False
    df, modified = loaded
    return update_parquet(df, pq_path, modified, force=force)


def wrds_update_csv(
    spark: SparkSession,
    source_path: str | None,
    table_name: str,
    schema: str,
    *,
    data_dir: str | None = None,
    source_dir: str | None = None,
    force: bool = False,
    single_file: bool = False,
    alt_table_name: str | None = None,
    encoding: str | None = None,
    sas_schema: str | None = None,
    sas_encoding: str | None = None,
    copy_encoding: str | None = None,
    **ingest_kwargs,
) -> bool:
    """Source file -> ingest options -> gzip CSV, stamp in mtime
    (wrds2pg/api.py:434-584).  ``encoding`` types the CSV *source*,
    ``copy_encoding`` the CSV *output* (reference's identically-named
    knobs); ``alt_table_name`` renames on load; ``sas_schema`` names
    the source library when it differs from the target schema."""
    csv_path = get_csv_path(alt_table_name or table_name, schema, data_dir)
    loaded = _read_if_stale(
        spark, source_path, table_name, schema,
        get_modified_csv(csv_path), csv_path,
        source_dir=source_dir, sas_schema=sas_schema, force=force,
        encoding=encoding, sas_encoding=sas_encoding,
        ingest_kwargs=ingest_kwargs,
    )
    if loaded is None:
        return False
    df, modified = loaded
    return update_csv(
        df, csv_path, modified,
        force=force, single_file=single_file, encoding=copy_encoding,
    )


def wrds_update(
    spark: SparkSession,
    source_path: str | None,
    table_name: str,
    schema: str,
    jdbc_url: str,
    *,
    source_dir: str | None = None,
    sas_schema: str | None = None,
    force: bool = False,
    col_types: dict[str, str] | None = None,
    create_roles: bool = False,
    execute_sql=None,
    execute_query=None,
    sink_modified: str = "",
    alt_table_name: str | None = None,
    encoding: str | None = None,
    sas_encoding: str | None = None,
    tz: str = "UTC",
    copy_csv=None,
    **ingest_kwargs,
) -> bool:
    """Source file -> ingest options -> PostgreSQL table
    (wrds2pg/api.py:37-236), loaded through ``update_postgres``.

    ``execute_sql`` is required: it runs the DDL, the staging swap and
    the stamp comment, and a call without it raises ``ValueError``
    before any Spark job.  ``copy_csv`` given loads the rows with COPY
    (the reference's own load; see ``sinks.postgres.psql_runners``),
    otherwise with JDBC through ``jdbc_url``.

    ``sink_modified`` is the stamp read from the existing table comment;
    when it is not supplied and an ``execute_query`` seam is, the stamp
    is resolved here via ``get_table_comment`` (reference api.py:175 +
    postgres/ddl.py:7-23) so the update gate is self-contained.
    ``alt_table_name`` renames on load (api.py:168-169); ``tz`` is the
    per-connection TimeZone of a JDBC load (api.py:49); ``sas_schema``
    names the source library when it differs from the target schema
    (api.py:47,134-136 — data obtained from sas_schema is stored in
    schema)."""
    if execute_sql is None:
        raise ValueError(
            "wrds_update needs an execute_sql seam for the DDL, the "
            "staging swap and the stamp (see sinks.postgres.psql_runners)")
    table = alt_table_name or table_name
    if not sink_modified and execute_query is not None:
        sink_modified = get_table_comment(schema, table, execute_query)
    loaded = _read_if_stale(
        spark, source_path, table_name, schema,
        sink_modified, f"{schema}.{table}",
        source_dir=source_dir, sas_schema=sas_schema, force=force,
        encoding=encoding, sas_encoding=sas_encoding,
        ingest_kwargs=ingest_kwargs,
    )
    if loaded is None:
        return False
    df, modified = loaded
    return update_postgres(
        df, table, schema, jdbc_url,
        execute_sql=execute_sql, copy_csv=copy_csv,
        modified=modified, sink_modified=sink_modified, force=force,
        col_types=col_types, create_roles=create_roles, tz=tz,
    )
