"""gzip-CSV sink with the reference's mtime-encoded stamp.

Reference behavior (wrds2pg/api.py:434-584 ``wrds_update_csv`` +
wrds2pg/files/csv.py): stream to ``schema/table.csv.gz`` and encode
the "Last modified" stamp into the file's mtime (America/Chicago
wall-time quirk handled in catalog.modified_encode).

Spark writes a *directory* of gzip part files — the scalable shape
(one gzip stream is unsplittable on read and serializes the write).
The stamp goes on the directory's mtime, set AFTER the write so the
write itself doesn't clobber it.  ``single_file=True`` coalesces to
one partition for small reference-parity outputs.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

from wrds2pg_spark.catalog import get_modified_csv, needs_update, set_modified_csv

__all__ = ["update_csv"]

log = logging.getLogger(__name__)


def update_csv(
    df: DataFrame,
    path: str,
    modified: str,
    *,
    force: bool = False,
    single_file: bool = False,
    header: bool = True,
    encoding: str | None = None,
) -> bool:
    """Write gzip CSV to ``path`` unless the stamp says it is current.
    Returns True when a write happened.

    ``encoding`` is the reference's ``copy_encoding`` knob
    (wrds2pg/api.py) — SAS names like ``wlatin1`` are normalized to
    java.nio charsets."""
    if not needs_update(modified, get_modified_csv(path), force):
        log.info("%s already up to date", path)
        return False
    out = df.coalesce(1) if single_file else df
    writer = (
        out.write.mode("overwrite")
        .option("compression", "gzip")
        .option("header", str(header).lower())
    )
    if encoding:
        from wrds2pg_spark.sources.csv import (
            _enable_full_charsets, normalize_encoding,
        )

        charset = normalize_encoding(encoding)
        _enable_full_charsets(df.sparkSession, charset)
        writer = writer.option("encoding", charset)
    writer.csv(path)
    if modified:
        set_modified_csv(path, modified)
    return True
