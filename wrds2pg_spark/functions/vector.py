"""Vector math over ``array<float>`` embedding columns.

Elements are cast to double before any arithmetic so Spark and the
DuckDB oracle compute on identical IEEE doubles (float->double casts
are exact).  Final similarity values are O(1) magnitude, so a 6-decimal
round makes cross-engine summation-order differences vanish.

The dot and norm are zip_with/aggregate higher-order functions.  HOF
lambdas evaluate INTERPRETED per element; a dim-unrolled
``getItem(i) * getItem(i)`` sum is generated code instead, whose
classes Janino compiles once per JVM (a 64-dim unrolled dot over the
sf0.01 embeddings, fresh session: 4 classes on the first run, 0 on
the next three).  The per-execution compile once measured when the
ann_lsh probe was unrolled (0.17 s -> 1.33 s on the 2k-row sf0.1 bench
corpus) was eviction from Spark's default 100-entry codegen cache,
which ``session.get_spark`` now sizes to the engine's working set.
The one key that renders unrolled SQL is similarity_maxsim (512 terms
over every row, 38.9 s -> 2.2 s at sf1).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["dot", "l2_norm", "cosine_similarity"]


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    sq = F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    return F.sqrt(sq)


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
