"""Entry-point orchestrators — the Spark equivalents of the
reference's ``wrds_update`` / ``wrds_update_pq`` / ``wrds_update_csv``
(wrds2pg/api.py:37-236, :238-432, :434-584).

Shape per SURVEY §3: resolve source -> probe stamps -> gate -> one
declarative read+transform+write plan -> store stamp.  Where the
reference makes three SAS round-trips per update (stamp, data,
metadata), Spark needs a single job: schema comes with the read and
transforms ride the same plan.

The stamp check runs before the source is opened, as the reference's
does (wrds2pg/api.py:174-194): an up-to-date table costs the two stamp
reads and no source read, plan or Spark job.  So option errors, such
as a ``keep`` that names a missing column, surface only on a call that
writes, as in the reference.  The sinks keep their own check for
callers that hand them a DataFrame directly.

Sources are local files (parquet / csv / sas7bdat via
sources.*); there is no SAS server in this world, so the
``wrds_id``/SSH transport surface is intentionally absent.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession

from wrds2pg_spark.catalog import (
    get_modified_csv, get_modified_pq, modified_decode, needs_update,
)
from wrds2pg_spark.paths import get_csv_path, get_pq_path
from wrds2pg_spark.plans.ingest import IngestOptions, apply_options
from wrds2pg_spark.sinks.csv import update_csv
from wrds2pg_spark.sinks.parquet import update_parquet

__all__ = [
    "read_source", "resolve_source", "source_modified",
    "wrds_update", "wrds_update_pq", "wrds_update_csv",
]

_SOURCE_EXTS = (".parquet", ".pq", ".sas7bdat", ".csv", ".csv.gz")

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
    for ext in _SOURCE_EXTS:
        cand = os.path.join(base, lib, table_name + ext)
        if os.path.exists(cand):
            return cand
    raise FileNotFoundError(
        f"No source for {lib}.{table_name} under {base} "
        f"(tried {', '.join(_SOURCE_EXTS)})"
    )


def source_modified(source_path: str) -> str:
    """Source stamp in the reference's 'Last modified:' format.

    sas7bdat sources use the dataset's OWN header timestamp — the
    content stamp PROC CONTENTS reports and the reference scrapes
    (wrds2pg/sas/metadata.py:79-113) — so a touched/copied file whose
    content didn't change does not trigger a reload (round 6; the
    header wall time renders directly, matching how the reference
    stores the scraped listing string).  Everything else, and any
    unparseable sas7bdat, falls back to fs mtime.  A glob of sas7bdat
    files (a multi-file lake) stamps as the newest of its files' own
    stamps, their fs mtimes and their directories' mtimes: the header
    stamps alone would miss a file added with an older stamp, a
    removed file or a file copied over in place, so any add, remove
    or rewrite reloads the lake and an unchanged lake skips.  ''
    (always update) when nothing matches."""
    if source_path.lower().endswith(".sas7bdat"):
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
            stacklevel=3,
        )
    return encoding or sas_encoding


def read_source(
    spark: SparkSession, source_path: str, encoding: str | None = None,
) -> DataFrame:
    """Pick a reader from the file extension.  ``encoding`` applies to
    CSV sources (the reference's ``encoding``/``sas_encoding``,
    wrds2pg/api.py:48; parquet carries its own encoding)."""
    p = source_path.lower()
    if p.endswith((".parquet", ".pq")) or os.path.isdir(source_path):
        return spark.read.parquet(source_path)
    if p.endswith(".sas7bdat"):
        # the file's own header carries its charset (the reference's
        # sas_encoding sets the remote SAS session; no session here)
        from wrds2pg_spark.sources.sas7bdat import read_sas7bdat

        return read_sas7bdat(spark, source_path)
    if p.endswith((".csv", ".csv.gz")):
        reader = spark.read.option("header", "true")
        if encoding:
            from wrds2pg_spark.sources.csv import (
                _enable_full_charsets, normalize_encoding,
            )

            charset = normalize_encoding(encoding)
            _enable_full_charsets(spark, charset)
            reader = reader.option("encoding", charset)
        return reader.csv(source_path)
    raise ValueError(f"Unsupported source: {source_path}")


def _up_to_date(
    modified: str, sink_modified: str, force: bool, target: str
) -> bool:
    """The entry points' stamp check, made before the source is
    opened; the rules are ``catalog.needs_update``'s."""
    if needs_update(modified, sink_modified, force):
        return False
    log.info("%s already up to date", target)
    return True


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
    encoding = resolve_encoding(encoding, sas_encoding)
    source_path = resolve_source(
        source_path, table_name, schema, sas_schema, source_dir
    )
    pq_path = get_pq_path(alt_table_name or table_name, schema, data_dir)
    modified = source_modified(source_path)
    if _up_to_date(modified, get_modified_pq(pq_path), force, pq_path):
        return False
    df = apply_options(
        read_source(spark, source_path, encoding),
        IngestOptions(**ingest_kwargs),
    )
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
    encoding = resolve_encoding(encoding, sas_encoding)
    source_path = resolve_source(
        source_path, table_name, schema, sas_schema, source_dir
    )
    csv_path = get_csv_path(alt_table_name or table_name, schema, data_dir)
    modified = source_modified(source_path)
    if _up_to_date(modified, get_modified_csv(csv_path), force, csv_path):
        return False
    df = apply_options(
        read_source(spark, source_path, encoding),
        IngestOptions(**ingest_kwargs),
    )
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
    stage_and_rename: bool = False,
    alt_table_name: str | None = None,
    encoding: str | None = None,
    sas_encoding: str | None = None,
    tz: str = "UTC",
    transport: str = "jdbc",
    copy_csv=None,
    **ingest_kwargs,
) -> bool:
    """Source file -> ingest options -> PostgreSQL table
    (wrds2pg/api.py:37-236).  ``sink_modified`` is the stamp read from
    the existing table comment; when it is not supplied and an
    ``execute_query`` seam is, the stamp is resolved here via
    ``get_table_comment`` (reference api.py:175 + postgres/ddl.py:7-23)
    so the update gate is self-contained.  ``alt_table_name`` renames
    on load (api.py:168-169); ``tz`` is the per-connection TimeZone
    for the load (api.py:49); ``sas_schema`` names the source library
    when it differs from the target schema (api.py:47,134-136 — data
    obtained from sas_schema is stored in schema).

    ``transport`` selects the row path: ``"jdbc"`` (cluster-native
    batched inserts) or ``"copy"`` (the reference's COPY load,
    round 10 — requires the ``copy_csv`` seam from
    sinks.postgres.psql_runners or equivalent; ``jdbc_url`` is
    ignored).  Both share the gate, DDL, stamp and swap logic."""
    from wrds2pg_spark.sinks.postgres import (
        get_table_comment, update_postgres, update_postgres_copy,
    )

    if transport == "copy" and (copy_csv is None or execute_sql is None):
        raise ValueError(
            "transport='copy' needs execute_sql and copy_csv seams "
            "(see sinks.postgres.psql_runners)")
    encoding = resolve_encoding(encoding, sas_encoding)
    source_path = resolve_source(
        source_path, table_name, schema, sas_schema, source_dir
    )
    table = alt_table_name or table_name
    if not sink_modified and execute_query is not None:
        sink_modified = get_table_comment(schema, table, execute_query)
    modified = source_modified(source_path)
    if _up_to_date(modified, sink_modified, force, f"{schema}.{table}"):
        return False
    df = apply_options(
        read_source(spark, source_path, encoding),
        IngestOptions(**ingest_kwargs),
    )
    if transport == "copy":
        return update_postgres_copy(
            df, table, schema,
            execute_sql=execute_sql, copy_csv=copy_csv,
            modified=modified, sink_modified=sink_modified, force=force,
            col_types=col_types, create_roles=create_roles,
            stage_and_rename=stage_and_rename,
        )
    return update_postgres(
        df, table, schema, jdbc_url,
        modified=modified, sink_modified=sink_modified, force=force,
        col_types=col_types, create_roles=create_roles,
        execute_sql=execute_sql, stage_and_rename=stage_and_rename,
        tz=tz,
    )
