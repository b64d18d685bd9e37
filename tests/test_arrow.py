"""The one Arrow map shape: ``functions/arrow.py`` and a guard that
keeps every map-only Python stage on ``mapInArrow``."""

from __future__ import annotations

import ast
import pathlib

import numpy as np
import pyarrow as pa
import pytest

from wrds2pg_spark.functions.arrow import map_batches, vectors


def _batch(rows, typ=pa.list_(pa.float32())):
    return pa.RecordBatch.from_arrays([pa.array(rows, type=typ)], ["v"])


def test_vectors_reads_flat_values():
    got = vectors(_batch([[1.0, 2.0], [3.0, 4.5]]), "v")
    assert got.dtype == np.float64
    np.testing.assert_array_equal(got, [[1.0, 2.0], [3.0, 4.5]])


def test_vectors_null_row_raises():
    with pytest.raises(ValueError, match="null vector"):
        vectors(_batch([[1.0, 2.0], None]), "v")


def test_vectors_ragged_width_raises():
    with pytest.raises(ValueError, match="ragged"):
        vectors(_batch([[1.0, 2.0], [3.0]]), "v")


def test_vectors_sliced_batch_respects_offsets():
    batch = _batch([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]).slice(1, 2)
    np.testing.assert_array_equal(vectors(batch, "v"), [[3.0, 4.0], [5.0, 6.0]])


def test_vectors_empty_batch():
    assert vectors(_batch([]), "v").shape == (0, 0)


def test_map_batches_declared_int_is_int32(spark):
    out = map_batches(
        spark.range(5),
        lambda b: {"id": b.column("id"),
                   "half": np.asarray(b.column("id")) // 2},
        "id long, half int")
    assert dict(out.dtypes) == {"id": "bigint", "half": "int"}
    assert sorted(tuple(r) for r in out.collect()) == [
        (i, i // 2) for i in range(5)]


def test_map_batches_int_overflow_raises(spark):
    out = map_batches(
        spark.range(3),
        lambda b: {"big": np.asarray(b.column("id")) + 2 ** 40},
        "big int")
    with pytest.raises(Exception, match="not in range"):
        out.collect()


def test_map_batches_row_expanding_fn(spark):
    def fan(batch):
        ids = [i for i in batch.column("id").to_pylist() for _ in range(i)]
        return {"id": ids, "copy": [f"c{i}" for i in ids]}

    out = map_batches(spark.range(4), fan, "id long, copy string")
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "c1"), (2, "c2"), (2, "c2"), (3, "c3"), (3, "c3"), (3, "c3")]


def _calls(name: str) -> list[str]:
    pkg = pathlib.Path(__file__).resolve().parent.parent / "wrds2pg_spark"
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == name):
                hits.append(f"{path.relative_to(pkg)}:{node.lineno}")
    return hits


@pytest.mark.parametrize("name", ["mapInPandas", "parallelize"])
def test_no_map_in_pandas_or_rdd_frame(name):
    """Every map-only Python stage is a mapInArrow (through
    map_batches or directly); a mapInPandas or a parallelize-built
    frame would bring back the pandas round-trip or the RDD-API
    stage that starts a second Python worker daemon."""
    assert _calls(name) == []
