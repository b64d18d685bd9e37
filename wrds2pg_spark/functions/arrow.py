"""The one shape for map-only Python kernels: ``mapInArrow`` over
``pyarrow.RecordBatch``.

A kernel reads its input columns straight from the batch (a list
column arrives as one flat values buffer plus offsets, which
:func:`vectors` turns into an ``(n, dim)`` matrix without per-row
Python) and returns plain columns; :func:`map_batches` builds each
output batch with the exact Arrow types of the declared DDL.  pandas
is never in the path, so there is no batch -> DataFrame -> Series of
arrays -> ``np.vstack`` round-trip per batch.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Mapping

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

__all__ = ["map_batches", "vectors"]


def map_batches(
    df: DataFrame, fn: Callable[[pa.RecordBatch], Mapping], ddl: str
) -> DataFrame:
    """``df.mapInArrow`` where ``fn(batch)`` returns a dict of columns
    (lists, numpy arrays or Arrow arrays) named as in ``ddl``.  Each
    column is built with ``pa.array(values, type=field.type)``, a safe
    conversion, so an int out of range for a declared ``int`` raises
    instead of wrapping.  ``fn`` may return more or fewer rows than it
    received (a row-expanding decode); an empty input batch maps to no
    output."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    target = to_arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows:
                cols = fn(batch)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(cols[f.name], type=f.type) for f in target],
                    schema=target)

    return df.mapInArrow(run, schema)


def vectors(batch: pa.RecordBatch, name: str) -> np.ndarray:
    """The list column ``name`` as an ``(n, dim)`` float64 matrix, read
    from the flattened values (which respect a sliced batch's offsets).
    A null row or a ragged width raises; an empty batch is ``(0, 0)``."""
    col = batch.column(name)
    if col.null_count:
        raise ValueError(f"{name}: {col.null_count} null vector row(s)")
    widths = np.diff(np.asarray(col.offsets))
    dim = int(widths[0]) if len(widths) else 0
    if (widths != dim).any():
        raise ValueError(
            f"{name}: ragged vector widths {widths.min()}..{widths.max()}")
    return np.asarray(col.flatten(), dtype=np.float64).reshape(len(col), dim)
