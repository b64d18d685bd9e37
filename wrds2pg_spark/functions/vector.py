"""Vector math over ``array<float>`` embedding columns.

Elements are cast to double before any arithmetic so Spark and the
DuckDB oracle compute on identical IEEE doubles (float->double casts
are exact).  Final similarity values are O(1) magnitude, so a 6-decimal
round makes cross-engine summation-order differences vanish.

The dot and norm are zip_with/aggregate higher-order functions.  HOF
lambdas evaluate INTERPRETED per element, but a dim-unrolled
``getItem(i) * getItem(i)`` sum pays a PER-QUERY-EXECUTION Janino
compile (~0.3-1 s; the generated source embeds fresh expression ids,
so the codegen cache misses across executions): a loss on the 2k-row
sf0.1 bench corpus (unrolling the ann_lsh probe regressed 0.17 s ->
1.33 s), a win only when a pass does far more data work than that.
The one such key, similarity_maxsim (512 terms over every row, 38.9 s
-> 2.2 s at sf1), renders its own unrolled SQL.
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
