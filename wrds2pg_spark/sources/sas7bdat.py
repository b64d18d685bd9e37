"""sas7bdat source — distributed over files via mapInArrow.

The reference never parses sas7bdat itself; it asks a SAS process to
stream CSV (wrds2pg/sas/stream.py:29-88).  With no SAS runtime in this
world, the public-knowledge options are the spark-sas7bdat package
(not bundled here) or pandas' builtin ``read_sas``.  This module fans
a file list out across executors and decodes each file with
``pandas.read_sas`` inside ``mapInArrow`` — one task per file, Arrow
batches out, no driver-side materialization.

A single .sas7bdat file is not splittable (same limitation as the
reference's single CSV stream, SURVEY §4 "unsplittable gzip" row), so
parallelism = file count; WRDS-style libraries with one file per
month/year parallelize naturally.  ``chunksize`` bounds per-task
memory for big single files.
"""

from __future__ import annotations

import glob
import os
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "read_sas7bdat", "header_modified", "normalize_sas_chunk",
    "infer_schema", "decode_file",
]

# the 32-byte sas7bdat magic (public binary spec: Shotwell/Hobbs
# "SAS7BDAT Database Binary Format"; same constant pandas ships in
# pandas.io.sas.sas_constants.magic)
_MAGIC = bytes.fromhex(
    "000000000000000000000000c2ea8160b31411cfbd92080009c7318c181f1011"
)
_SAS_EPOCH_OFFSET = 164  # date_created; date_modified is the next 8


def header_modified(path: str):
    """The dataset's own "Last modified" timestamp from the sas7bdat
    binary header — the CONTENT stamp, as a naive wall-clock
    ``datetime``, or None when the file is not a parseable sas7bdat.

    Layout (public spec, also pandas ``SAS7BDATReader._get_properties``):
    magic at offset 0; alignment shim = 4 when byte 35 == 0x33;
    endianness flag at byte 37 (0x01 = little); ``date_modified`` is a
    float64 at ``172 + align`` counting seconds since the SAS epoch
    1960-01-01 (wall time, no zone).

    This is the same field PROC CONTENTS reports and the reference
    scrapes for its incremental-update gate (wrds2pg/sas/
    metadata.py:79-113).  Keying the gate on it instead of fs mtime
    means a copied/rsynced/touched-but-unchanged file no longer
    triggers a spurious full reload — the stamp moves only when SAS
    itself rewrote the dataset."""
    import struct
    from datetime import datetime, timedelta

    try:
        with open(path, "rb") as f:
            hdr = f.read(288)
    except OSError:
        return None
    if len(hdr) < 288 or hdr[:32] != _MAGIC:
        return None
    align = 4 if hdr[35:36] == b"\x33" else 0
    order = "<" if hdr[37:38] == b"\x01" else ">"
    off = _SAS_EPOCH_OFFSET + align + 8
    (secs,) = struct.unpack(order + "d", hdr[off:off + 8])
    if not (0 <= secs < 1e11):  # sanity: 1960..~5000 AD
        return None
    return datetime(1960, 1, 1) + timedelta(seconds=secs)


def normalize_sas_chunk(chunk):
    """The ONE SAS char-normalization contract, shared by the helper
    reader and the registered DataSource (sources/
    sas7bdat_datasource.py): lower-cased column names, char columns
    decoded from the space-padded bytes SAS stores.  Mutates and
    returns ``chunk``."""
    chunk.columns = [c.lower() for c in chunk.columns]
    for c in chunk.columns:
        if chunk[c].dtype == object:
            chunk[c] = chunk[c].map(
                lambda v: v.decode("utf-8", "replace")
                if isinstance(v, bytes) else v
            )
    return chunk


def _expand(path: str) -> list[str]:
    """One file, a glob, or a directory of ``.sas7bdat`` files, sorted;
    no match is a loud error."""
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.sas7bdat")))
    else:
        files = sorted(glob.glob(path))
    if not files:
        raise FileNotFoundError(f"no sas7bdat files match {path!r}")
    return files


def infer_schema(path: str):
    """Spark schema of one file, sampled from its first chunk — the
    PROC CONTENTS round-trip equivalent (wrds2pg/sas/metadata.py:8-48).

    Char-vs-numeric comes from the RAW pandas dtypes: a char column
    that is all-null in the sampled chunk collapses to float64 during
    normalization (pandas re-infers under ``.map``), so inference after
    normalization would type it double and later files with real
    strings would fail the decode-side cast.  In a raw ``read_sas``
    chunk, object dtype == SAS char."""
    import pandas as pd

    from pyspark.sql.pandas.types import from_arrow_schema

    raw = next(iter(pd.read_sas(
        path, format="sas7bdat", chunksize=1024, iterator=True)))
    char_cols = {c.lower() for c in raw.columns if raw[c].dtype == object}
    inferred = pa.Schema.from_pandas(
        normalize_sas_chunk(raw), preserve_index=False)
    return from_arrow_schema(pa.schema([
        f.with_type(pa.string())
        if (f.name in char_cols or pa.types.is_null(f.type)) else f
        for f in inferred
    ]))


def decode_file(
    path: str, chunksize: int, target: pa.Schema, limit: int | None = None
) -> Iterator[pa.RecordBatch]:
    """Streaming per-file decode: ``pandas.read_sas`` chunks, normalized
    and conformed to ``target`` — columns picked by name, cast to the
    exact declared arrow types (pandas floats -> declared ints, an
    all-null char chunk -> string).  ``limit`` stops the decode after
    that many rows."""
    import pandas as pd

    left = limit
    with pd.read_sas(path, format="sas7bdat", iterator=True) as reader:
        while left is None or left > 0:
            chunk = reader.read(chunksize if left is None else min(chunksize, left))
            if chunk.empty:
                return
            if left is not None:
                left -= len(chunk)
            batch = pa.RecordBatch.from_pandas(
                normalize_sas_chunk(chunk), preserve_index=False)
            cols = []
            for f in target:
                # get_field_index returns -1 for a missing name, and
                # batch.column(-1) would SILENTLY serve the last column —
                # fail loudly instead (the declared-vs-file mismatch a user
                # hits first: SAS names are stored uppercase, this reader
                # lower-cases them)
                idx = batch.schema.get_field_index(f.name)
                if idx < 0:
                    raise KeyError(
                        f"sas7bdat: declared column {f.name!r} not in "
                        f"{path!r} (file has {batch.schema.names}; note "
                        f"names are lower-cased on read)")
                cols.append(batch.column(idx).cast(f.type))
            yield pa.RecordBatch.from_arrays(cols, schema=target)


def _first_rows(files: list[str], obs: int) -> list[int]:
    """Per file, the rows it still owes to the lake's first ``obs``
    (SAS ``obs=`` over the files read as one dataset, in order), from
    the header row counts; the list stops at the first file that owes
    none."""
    import pandas as pd

    if obs < 0:
        raise ValueError(f"obs must be >= 0, got {obs}")
    owed, left = [], obs
    for path in files:
        if left <= 0:
            break
        owed.append(left)
        with pd.read_sas(path, format="sas7bdat", iterator=True) as reader:
            left -= reader.row_count
    return owed


def read_sas7bdat(
    spark: SparkSession,
    path: str,
    *,
    chunksize: int = 262_144,
    schema=None,
    obs: int | None = None,
) -> DataFrame:
    """Read one file, a glob, or a directory of ``.sas7bdat`` files.

    ``schema`` (StructType or DDL string) is required for multi-file
    reads to be planned without touching data; when omitted, the first
    file's first chunk is sampled driver-side to infer it (one small
    read, see ``infer_schema``).

    ``obs`` reads only the first ``obs`` rows, the files taken in
    order: each task stops its decode at the rows its file owes, and a
    file that owes none gets no task.  The cap sits in the decode, not
    in a Spark ``limit`` above it: a limit stops reading the Arrow
    stream before its end, and Spark then kills the Python worker
    instead of reusing it, so every such read forked a fresh worker
    that imported pandas and pyarrow again.
    """
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    files = _expand(path)
    if schema is None:
        schema = infer_schema(files[0])
    elif isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    target = to_arrow_schema(schema)
    owed = [None] * len(files) if obs is None else _first_rows(files, int(obs))
    files = files[:len(owed)]

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for i in batch.column("id").to_pylist():
                yield from decode_file(files[i], chunksize, target, owed[i])

    # Exactly one file per task, with NO exchange and no RDD stage:
    # spark.range with numPartitions=len(files) puts id i alone in
    # partition i, and the decode finds its file in the path list the
    # closure carries (pickled once with the function; a literal
    # path-array column would copy the list into the plan instead).
    # A hash-repartitioned LocalRelation could stack two files on one
    # task, and a parallelized path list ran as a Python RDD stage
    # under a second Python worker daemon.  The decode streams
    # pandas.read_sas(chunksize) per file, so a multi-GB SAS file
    # never materializes in memory (the binaryFile alternative holds
    # whole files as rows; rejected).  obs=0 leaves no file to read,
    # and spark.range still asks for at least one partition.
    return spark.range(len(files), numPartitions=max(1, len(files))).mapInArrow(
        decode, schema)
