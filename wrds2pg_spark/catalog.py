"""Modified-stamp codecs and the incremental-update gate.

The reference keys incremental updates on the SAS dataset's
"Last modified: MM/DD/YYYY HH:MM:SS" string and stores it per sink:
PG table comment (wrds2pg/postgres/ddl.py:7-38), Parquet footer
key-value metadata (wrds2pg/files/parquet.py:28-40), and CSV file
mtime round-tripped through America/Chicago wall time
(wrds2pg/files/csv.py:12-84).  This module re-implements the codecs
and the skip-if-unchanged gate (wrds2pg/api.py:174-194) engine-side.

Spark's Parquet writer exposes no footer KV-metadata API and writes a
directory, not a file, so the parquet stamp lives in a ``_meta.json``
sidecar inside the table directory (SURVEY §7 hard part 1).  When
pointed at a bare ``.parquet`` *file* (e.g. one produced by the
reference itself), ``get_modified_pq`` falls back to reading the
footer metadata with pyarrow, so stamps written by the reference are
honored.
"""

from __future__ import annotations

import contextlib
import json
import logging
import os
import time
from datetime import datetime, timezone
from zoneinfo import ZoneInfo

__all__ = [
    "modified_encode", "modified_decode",
    "get_modified_pq", "set_modified_pq",
    "get_modified_csv", "set_modified_csv",
    "needs_update",
]

# The WRDS grid lives in America/Chicago; SAS "Last modified" stamps
# are wall-clock in that zone (wrds2pg/files/csv.py:12).
_WRDS_TZ = ZoneInfo("America/Chicago")
_PREFIX = "Last modified: "
_FMT = "%m/%d/%Y %H:%M:%S"
_SIDECAR = "_meta.json"

log = logging.getLogger(__name__)


def modified_encode(last_modified: str) -> float:
    """'Last modified: MM/DD/YYYY HH:MM:SS' (America/Chicago wall
    time) -> UTC epoch seconds (wrds2pg/files/csv.py:14-24)."""
    if not last_modified.startswith(_PREFIX):
        raise ValueError(f"Unexpected modified string: {last_modified!r}")
    return (
        datetime.strptime(last_modified[len(_PREFIX):], _FMT)
        .replace(tzinfo=_WRDS_TZ)
        .astimezone(timezone.utc)
        .timestamp()
    )


def modified_decode(mtime: float) -> str:
    """Epoch seconds -> 'Last modified: ...' in America/Chicago
    (wrds2pg/files/csv.py:26-43)."""
    return (
        datetime.fromtimestamp(mtime, tz=timezone.utc)
        .astimezone(_WRDS_TZ)
        .strftime(_PREFIX + _FMT)
    )


def get_modified_pq(path: str) -> str:
    """Stamp for a parquet table; '' when absent (mirrors
    wrds2pg/files/parquet.py:28-40 returning '').

    Directory table -> ``_meta.json`` sidecar; bare ``.parquet`` file
    -> pyarrow footer ``last_modified`` key (reference compatibility).
    """
    if os.path.isdir(path):
        sidecar = os.path.join(path, _SIDECAR)
        try:
            with open(sidecar) as f:
                meta = json.load(f)
        except FileNotFoundError:
            return ""
        except ValueError:  # torn or garbled: JSON or UTF-8 decode error
            log.warning("%s is unreadable; the table needs an update", sidecar)
            return ""
        return meta.get("last_modified", "")
    if os.path.isfile(path):
        import pyarrow.parquet as pq

        md = pq.read_schema(path).metadata
        if not md:
            return ""
        value = md.get(b"last_modified")
        return value.decode("utf-8") if value is not None else ""
    return ""


def set_modified_pq(path: str, last_modified: str) -> bool:
    """Write the sidecar stamp into a Spark-written table directory.

    The stamp goes to a temp file in the same directory and is then
    renamed over the sidecar, so a crash leaves the old stamp or the
    new one, never a torn file.  The temp name starts with a dot, which
    Spark's and DuckDB's parquet readers skip if one is left behind."""
    tmp = os.path.join(path, f".{_SIDECAR}.{os.getpid()}.tmp")
    try:
        with open(tmp, "w") as f:
            json.dump({"last_modified": last_modified}, f)
        os.replace(tmp, os.path.join(path, _SIDECAR))
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
        raise
    return True


def get_modified_csv(path: str) -> str:
    """Stamp from file (or directory) mtime (wrds2pg/files/csv.py:45-62)."""
    if not os.path.exists(path):
        return ""
    return modified_decode(os.path.getmtime(path))


def set_modified_csv(path: str, last_modified: str) -> bool:
    """Encode the stamp into the target's mtime; atime stays current
    (wrds2pg/files/csv.py:64-84)."""
    os.utime(path, times=(time.time(), modified_encode(last_modified)))
    return True


def needs_update(source_modified: str, sink_modified: str, force: bool = False) -> bool:
    """The incremental gate (wrds2pg/api.py:183-194): skip when the
    source stamp equals the sink stamp, unless forced.  Unknown source
    stamps ('' / None) always update — never silently skip fresh data."""
    if force:
        return True
    if not source_modified:
        return True
    return source_modified != sink_modified
