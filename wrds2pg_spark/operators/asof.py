"""Scalable as-of join (point-in-time lookup).

Spark has no native ASOF JOIN; the naive formulations (theta join +
per-row max, or a LATERAL-style correlated subquery) explode to N*M
pairs or serialize per row.  This implementation uses the classic
union + ordered-window trick:

1. tag left rows (is_left=1) and right rows (is_left=0), union them on
   a common (key, time) spine;
2. one window per key, ordered by (time, is_left, tiebreak), carries
   the right side's payload forward with ``last(ignorenulls=True)``;
3. keep only left rows — each now holds the payload of the most recent
   right row with time <= its own.

Cost: ONE shuffle on the join key for |L|+|R| rows — the same shape as
a sort-merge join, so it scales to 100 TB the way any keyed window
does.  Skewed keys can be salted upstream if a single key's history
exceeds a partition.

Direction and tolerance mirror the pandas ``merge_asof`` surface:
``direction="backward"`` (default) matches the most recent right row
with time <= left time; ``"forward"`` matches the earliest right row
with time >= left time (the traversal simply runs in reverse).
``tolerance`` (seconds for timestamps, plain delta for numerics)
voids matches farther than the bound — the matched right time rides
the same window, so the check is a post-projection filter, not a
second pass.

Semantics at ties: right rows at the same timestamp as a left row
sort *before* it in traversal order (inclusive <=/>=); ties between
right rows resolve by ``tiebreak`` ascending in traversal order, so
the largest tiebreak wins in both directions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["asof_join"]


def _time_delta(a, b, dtype) -> F.Column:
    """|a - b| in seconds for timestamps, plain |a - b| otherwise."""
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return F.abs(
            (F.unix_micros(a.cast("timestamp")) -
             F.unix_micros(b.cast("timestamp"))).cast("double") / 1e6
        )
    return F.abs(a.cast("double") - b.cast("double"))


def _spine(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_by: str,
    right_by: str,
    carry: list[str],
    tiebreak: str | None,
    alias: str,
) -> DataFrame:
    """The tagged union both traversals run over: every row keyed by
    ``__k`` at time ``__t``, left rows with ``__is_l`` = 1 and a null
    ``__tb``, right rows with ``__is_l`` = 0 and ``tiebreak`` (else 0)
    as ``__tb``; the left columns (null on right rows) and the right
    ``carry`` columns as ``alias + c`` (null on left rows)."""
    l_tagged = left.select(
        F.col(left_by).alias("__k"),
        F.col(left_on).alias("__t"),
        F.lit(1).alias("__is_l"),
        F.lit(None).cast("long").alias("__tb"),
        *[F.col(c) for c in left.columns],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"{alias}{c}")
          for c in carry],
    )
    tb = (F.col(tiebreak) if tiebreak else F.lit(0)).cast("long")
    r_tagged = right.select(
        F.col(right_by).alias("__k"),
        F.col(right_on).alias("__t"),
        F.lit(0).alias("__is_l"),
        tb.alias("__tb"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns],
        *[F.col(c).alias(f"{alias}{c}") for c in carry],
    )
    return l_tagged.unionByName(r_tagged)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_by: str,
    right_by: str,
    right_cols: list[str],
    tiebreak: str | None = None,
    prefix: str = "asof_",
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """Left as-of join: for each left row, attach ``right_cols`` from
    the nearest right row in ``direction`` with a matching key
    (``right_on <= left_on`` for backward, ``>=`` for forward).
    Unmatched left rows — including matches voided by ``tolerance`` —
    keep nulls (left-outer semantics).

    ``direction="nearest"`` picks whichever of the backward/forward
    candidates is closer in absolute distance (backward wins exact
    ties).  Both carries ride the SAME keyed union — one shuffle, two
    in-partition sorts (asc + desc windows over one partitioning), so
    the scale shape is unchanged."""
    if direction == "nearest":
        return _asof_nearest(
            left, right, left_on, right_on, left_by, right_by,
            right_cols, tiebreak, prefix, tolerance,
        )
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction}")
    carry = list(right_cols)
    if tolerance is not None and right_on not in carry:
        carry = carry + [right_on]
    u = _spine(left, right, left_on, right_on, left_by, right_by,
               carry, tiebreak, prefix)
    t_order = F.col("__t").asc() if direction == "backward" else F.col("__t").desc()
    w = (
        W.partitionBy("__k")
        .orderBy(t_order, F.col("__is_l").asc(), F.col("__tb").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    for c in carry:
        u = u.withColumn(
            f"{prefix}{c}", F.last(f"{prefix}{c}", ignorenulls=True).over(w)
        )
    u = u.filter(F.col("__is_l") == 1)
    if tolerance is not None:
        matched_t = F.col(f"{prefix}{right_on}")
        in_range = matched_t.isNotNull() & (
            _time_delta(F.col("__t"), matched_t, right.schema[right_on].dataType)
            <= F.lit(float(tolerance))
        )
        for c in right_cols:
            u = u.withColumn(
                f"{prefix}{c}",
                F.when(in_range, F.col(f"{prefix}{c}")).otherwise(F.lit(None)),
            )
    out_cols = list(left.columns) + [f"{prefix}{c}" for c in right_cols]
    return u.select(*out_cols)


def _asof_nearest(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_by: str,
    right_by: str,
    right_cols: list[str],
    tiebreak: str | None,
    prefix: str,
    tolerance: float | None,
) -> DataFrame:
    """nearest-direction as-of: backward and forward carries computed
    over the same union spine (one shuffle on the key; the two windows
    share the partitioning and differ only in sort direction), then a
    row-local arbiter keeps the closer candidate, backward on ties."""
    carry = list(right_cols)
    if right_on not in carry:
        carry = carry + [right_on]
    u = _spine(left, right, left_on, right_on, left_by, right_by,
               carry, tiebreak, "__r_")
    # ONE ascending sort serves both directions: backward is a struct
    # max over [unbounded preceding, current], forward a struct min
    # over [current, unbounded following].  min/max are frame-order-
    # independent, so the second window reuses the first window's sort
    # (the physical plan has a single Sort under two Window nodes) —
    # the old formulation sorted the union twice, once per direction.
    # Same-timestamp right rows sort BEFORE the left row (is_l asc),
    # so exact ties land in the backward frame only; that is safe
    # because the arbiter below prefers backward whenever delta_b <=
    # delta_f, and an exact tie has delta_b = 0.  Tie-break among
    # equal-timestamp candidates is max(tiebreak) on both sides: the
    # struct leads with (t, tb) for backward-max and (t, -tb) for
    # forward-min.
    order = [F.col("__t").asc(), F.col("__is_l").asc(), F.col("__tb").asc()]
    w_b = (
        W.partitionBy("__k").orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_f = (
        W.partitionBy("__k").orderBy(*order)
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )

    def _cand(tb_col) -> F.Column:
        return F.when(
            F.col("__is_l") == 0,
            F.struct(
                F.col("__t").alias("__ct"),
                tb_col.alias("__ctb"),
                *[F.col(f"__r_{c}").alias(c) for c in carry],
            ),
        )

    u = (
        u.withColumn("__bs", F.max(_cand(F.col("__tb"))).over(w_b))
        .withColumn("__fs", F.min(_cand(-F.col("__tb"))).over(w_f))
        .filter(F.col("__is_l") == 1)
    )
    for c in carry:
        u = u.withColumn(f"__b_{c}", F.col(f"__bs.{c}")).withColumn(
            f"__f_{c}", F.col(f"__fs.{c}"))
    dtype = right.schema[right_on].dataType
    b_t, f_t = F.col(f"__b_{right_on}"), F.col(f"__f_{right_on}")
    db = _time_delta(F.col("__t"), b_t, dtype)
    df_ = _time_delta(F.col("__t"), f_t, dtype)
    b_ok = b_t.isNotNull()
    f_ok = f_t.isNotNull()
    if tolerance is not None:
        b_ok = b_ok & (db <= F.lit(float(tolerance)))
        f_ok = f_ok & (df_ <= F.lit(float(tolerance)))
    use_b = b_ok & (~f_ok | (db <= df_))
    use_f = f_ok & ~use_b
    for c in right_cols:
        u = u.withColumn(
            f"{prefix}{c}",
            F.when(use_b, F.col(f"__b_{c}"))
            .when(use_f, F.col(f"__f_{c}"))
            .otherwise(F.lit(None)),
        )
    out_cols = list(left.columns) + [f"{prefix}{c}" for c in right_cols]
    return u.select(*out_cols)
