"""sas7bdat as a registered Spark DataSource (`format("sas7bdat")`).

The Spark-4 Python DataSource API packaging of sources/sas7bdat.py:
after ``register_sas7bdat(spark)`` a user reads SAS datasets the same
way they read parquet —

    spark.read.format("sas7bdat").schema(ddl).load("/lake/*.sas7bdat")

— instead of calling a library helper.  This is the front-door the
reference's users actually want (wrds2pg's whole purpose is "get a SAS
dataset into an engine", wrds2pg/api.py:37-50); here the engine itself
grows the format.

Same execution contract as read_sas7bdat: one InputPartition per file
(a .sas7bdat is unsplittable — the reference's one-CSV-stream contract,
wrds2pg/sas/stream.py:29-88), streaming per-file ``pandas.read_sas``
chunks so a multi-GB file never materializes, Arrow batches straight
into the scan.  Schema may be declared (``.schema(...)``, planned with
zero data reads) or inferred from the first file's first chunk — the
PROC CONTENTS round-trip equivalent (wrds2pg/sas/metadata.py:8-48).

Scale note: the planner sees a plain Python data source scan whose
partitions() already encodes the file fan-out, so a 10,000-file WRDS
library schedules 10,000 decode tasks with no exchange, exactly like
the tuned helper path; column pruning/predicates stay post-scan (the
binary format has no projection pushdown — neither does SAS itself).
"""

from __future__ import annotations

import glob
import os
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

# the decode core is shared with the mapInArrow helper, imported, not
# copied, so format("sas7bdat") and read_sas7bdat can never drift apart
from wrds2pg_spark.sources.sas7bdat import _expand, decode_file, infer_schema

__all__ = ["Sas7bdatDataSource", "register_sas7bdat"]


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _Sas7bdatReader(DataSourceReader):
    def __init__(self, schema, options):
        self._schema = schema
        self._path = options.get("path")
        if not self._path:
            raise ValueError("sas7bdat: .load(path) is required")
        self._chunksize = int(options.get("chunksize", 262_144))

    def partitions(self):
        return [_FilePartition(f) for f in _expand(self._path)]

    def read(self, partition) -> Iterator:
        from pyspark.sql.pandas.types import to_arrow_schema

        yield from decode_file(
            partition.path, self._chunksize, to_arrow_schema(self._schema))


class Sas7bdatDataSource(DataSource):
    """``spark.read.format("sas7bdat")`` — options: ``chunksize``
    (rows per decoded batch, default 262144).  Pass an explicit
    ``.schema(...)`` to plan multi-file reads without touching data;
    without one the first file's first chunk is sampled."""

    @classmethod
    def name(cls) -> str:
        return "sas7bdat"

    def schema(self):
        path = self.options.get("path")
        if not path:
            raise ValueError("sas7bdat: .load(path) is required")
        return infer_schema(_expand(path)[0])

    def reader(self, schema) -> DataSourceReader:
        return _Sas7bdatReader(schema, self.options)

    def writer(self, schema, overwrite: bool):
        return _Sas7bdatWriter(schema, self.options, overwrite)


def register_sas7bdat(spark) -> None:
    """Idempotently register the format on this session."""
    spark.dataSource.register(Sas7bdatDataSource)


class _CommitMsg(WriterCommitMessage):
    def __init__(self, paths: list, rows: int):
        self.paths = paths
        self.rows = rows


class _Sas7bdatWriter(DataSourceWriter):
    """``df.write.format("sas7bdat")`` — one binary file per input
    partition (per ``rows_per_file`` rows of it): a sas7bdat is
    unsplittable on read, so write parallelism = read parallelism.  Tasks stage to a process/attempt-unique temp
    name and publish into the final directory only from ``commit()``'s
    manifest — Spark's standard two-phase output commit, so a failed
    or speculative attempt can never leave a half-written binary
    visible (``abort()`` removes staged files).

    Overwrite-commit ordering: staged files publish under their
    job-unique final names FIRST, then stale files from *prior* jobs
    are deleted (filtered by this job's suffix) — a crash mid-commit
    leaves a superset of one complete table, never data loss.

    Shared-filesystem assumption (document, local-mode contract):
    commit() runs driver-side ``os.replace`` on executor-staged paths,
    which requires driver and executors to share a filesystem — true
    in local mode and on NFS-backed clusters; on a real multi-node
    object-store deployment use the parquet sink or write per-node."""

    def __init__(self, schema, options, overwrite: bool):
        self._schema = schema
        self._dir = options.get("path")
        if not self._dir:
            raise ValueError("sas7bdat: .save(path) is required")
        self._page_length = int(options.get("page_length", 4096))
        import uuid

        self._overwrite = overwrite
        # bounded per-task memory: stage a new file every N rows
        # instead of materializing the whole partition (a partition
        # can be multi-GB; the read side streams, the write side must
        # too)
        self._rows_per_file = int(options.get("rows_per_file", 262_144))
        # per-JOB staging: two overlapping writes to the same target
        # (or a retry racing a slow first attempt) must never share a
        # staging dir — commit()/abort() rmtree only their own job's
        self._staging = os.path.join(
            self._dir, f"_staging-{uuid.uuid4().hex}")
        os.makedirs(self._dir, exist_ok=True)

    def write(self, iterator):
        import itertools
        import uuid

        import pandas as pd

        from wrds2pg_spark.sinks.sas7bdat import write_sas7bdat

        names = [f.name for f in self._schema.fields]
        staged_paths = []
        total = 0
        # consume the iterator in bounded chunks — one staged file per
        # chunk — so a multi-GB partition never materializes in task
        # memory (mirrors the read side's streaming contract)
        while True:
            rows = list(itertools.islice(iterator, self._rows_per_file))
            if not rows:
                break
            pdf = pd.DataFrame.from_records(
                [tuple(r) for r in rows], columns=names)
            del rows
            os.makedirs(self._staging, exist_ok=True)
            staged = os.path.join(
                self._staging, f"task-{uuid.uuid4().hex}.sas7bdat")
            write_sas7bdat(pdf, staged, page_length=self._page_length)
            staged_paths.append(staged)
            total += len(pdf)
        return _CommitMsg(staged_paths, total)

    def commit(self, messages):
        import shutil

        staged = [p for m in messages if m and m.rows for p in m.paths]
        # job-unique filenames (Spark's own writers do the same): a
        # later append can never os.replace() an earlier job's
        # part-00000 out of existence
        job = os.path.basename(self._staging).split("-", 1)[1][:8]
        # publish FIRST so a crash mid-commit can only leave a
        # superset (old + new files), never an empty directory...
        for i, p in enumerate(staged):
            os.replace(
                p, os.path.join(self._dir, f"part-{i:05d}-{job}.sas7bdat"))
        # ...then, for overwrite, retire prior jobs' files (identified
        # by NOT carrying this job's suffix)
        if self._overwrite:
            for f in glob.glob(os.path.join(self._dir, "*.sas7bdat")):
                if not f.endswith(f"-{job}.sas7bdat"):
                    os.remove(f)
        shutil.rmtree(self._staging, ignore_errors=True)

    def abort(self, messages):
        import shutil

        shutil.rmtree(self._staging, ignore_errors=True)
