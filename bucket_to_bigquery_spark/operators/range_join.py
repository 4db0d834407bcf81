"""Bucketed range (theta) join.

Spark turns a pure non-equi join condition into BroadcastNestedLoopJoin —
O(|L|·|R|) and a driver OOM risk at scale (SURVEY §4, §7 hard part 6). This
operator rewrites `r.ts ∈ (l.ts + lo, l.ts + hi]` as an EQUI-join on a time
bucket plus a residual filter:

  - each left row explodes to ceil((hi-lo)/bucket)+1 bucket keys covering
    its window — a few rows, not |R|;
  - right rows get their single bucket key;
  - join on the bucket key (shuffle hash / sort-merge — scales linearly),
    then apply the exact interval predicate.

At 100 TB this is the difference between a linear shuffle and a quadratic
explosion; bucket size should be chosen ≈ (hi-lo) so each left row lands in
≤2 buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    lower_seconds: float,
    upper_seconds: float,
    bucket_seconds: int | None = None,
) -> DataFrame:
    """Join rows where right.ts − left.ts ∈ (lower, upper] seconds.

    Column names must be disjoint between ``left`` and ``right`` (alias
    first). Bounds are exact timestamp comparisons (microsecond precision);
    the bucket key only limits candidate pairs.
    """
    if bucket_seconds is None:
        bucket_seconds = max(1, int(upper_seconds - lower_seconds) or 1)

    def bucket_of(col, offset=0.0):
        return F.floor((col.cast("double") + offset) / F.lit(float(bucket_seconds))).cast("long")

    lcol, rcol = F.col(left_ts), F.col(right_ts)
    l2 = left.withColumn(
        "__bucket",
        F.explode(
            F.sequence(bucket_of(lcol, lower_seconds), bucket_of(lcol, upper_seconds))
        ),
    )
    r2 = right.withColumn("__bucket", bucket_of(rcol))

    lo_op = rcol > _ts_add(lcol, lower_seconds)
    hi_op = rcol <= _ts_add(lcol, upper_seconds)
    return l2.join(r2, "__bucket").where(lo_op & hi_op).drop("__bucket")


def _ts_add(col, seconds: float):
    if seconds == 0:
        return col
    # make_interval(secs=...) keeps microsecond precision
    return col + F.expr(f"make_interval(0, 0, 0, 0, 0, 0, {seconds})")
