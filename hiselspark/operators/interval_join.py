"""Interval (time-range) join — attach all right rows whose timestamp
falls in a window around each left row's timestamp.

Semantics: for each left row ``(key, lts)``, emit one row per right row
``(key, rts)`` with ``lts + lo <= rts <= lts + hi`` (bounds in seconds,
either may be negative — e.g. ``lo=-3600, hi=0`` means "the trailing
hour").

A naive Spark expression of this is an equi-join on the key with a
range predicate — Catalyst executes that as a join with a post-filter,
which degenerates to per-key cross products (hot keys at 100 TB make
that quadratic).  :func:`interval_join` instead **bucketizes time**:
both sides are tagged with time buckets of width ``hi - lo`` so any
qualifying pair shares at least one of two consecutive buckets; the
left side is exploded to its (at most two) candidate buckets and the
join becomes a plain equi-join on ``(key, bucket)`` with the exact
range predicate applied afterwards.  Cost is O(candidates within one
bucket width), not O(per-key pairs), and the join stays a hash
shuffle join that AQE can re-plan/skew-split.
"""
from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from .windows import seconds_to_micros, ts_micros


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lo_seconds: float = -3600.0,
    hi_seconds: float = 0.0,
    value_cols: Optional[Sequence[str]] = None,
    how: str = "inner",
) -> DataFrame:
    """Bucketized time-range equi-join.

    Returns the left row plus each matching right row's ``value_cols``
    and ``__right_ts``.  ``how='left'`` keeps unmatched left rows with
    nulls — implemented in a single pass: the left side carries a unique
    row id through a left bucket join, and a window over that id keeps
    every in-range match plus exactly one null row for ids with none.
    (Correct for duplicate left rows and null-valued columns, unlike an
    anti-join on all left columns; costs one extra shuffle of the joined
    result keyed by the row id.)
    """
    if hi_seconds <= lo_seconds:
        raise ValueError("need hi_seconds > lo_seconds")
    lo_us = seconds_to_micros(lo_seconds)
    hi_us = seconds_to_micros(hi_seconds)
    width_us = max(hi_us - lo_us, 1)

    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (on, right_ts)]
    value_cols = list(value_cols)

    lus = ts_micros(left_ts)
    rus = ts_micros(right_ts)

    l_tag = left.withColumn("__lus", lus)
    if how == "left":
        l_tag = l_tag.withColumn("__lid", F.monotonically_increasing_id())
    # a right row at rus qualifies for left rows with
    # lus in [rus - hi, rus - lo]; both endpoints of that interval fall
    # in bucket floor((lus + lo)/W) or floor((lus + hi)/W) of rus's own
    # bucket timeline, so exploding the LEFT row into those (<= 2)
    # buckets and tagging the RIGHT row with its own bucket covers every
    # qualifying pair exactly once after the range filter.
    l_exp = l_tag.withColumn(
        "__bucket",
        F.explode(F.array_distinct(F.array(
            F.floor((F.col("__lus") + F.lit(lo_us)) / F.lit(width_us)),
            F.floor((F.col("__lus") + F.lit(hi_us)) / F.lit(width_us)),
        ))))
    r_tag = right.select(
        F.col(on).alias("__rk"),
        rus.alias("__rus"),
        F.floor(rus / F.lit(width_us)).alias("__bucket"),
        F.col(right_ts).alias("__right_ts"),
        *[F.col(c).alias(f"__rv_{c}") for c in value_cols],
    )

    in_range = (
        (F.col("__rus") >= F.col("__lus") + F.lit(lo_us))
        & (F.col("__rus") <= F.col("__lus") + F.lit(hi_us)))
    join_cond = ((F.col(on) == F.col("__rk"))
                 & (l_exp["__bucket"] == r_tag["__bucket"]))

    if how == "inner":
        return (l_exp.join(r_tag, join_cond, "inner")
                .filter(in_range)
                .select(*left.columns,
                        *[F.col(f"__rv_{c}").alias(c) for c in value_cols],
                        "__right_ts"))
    if how != "left":
        raise ValueError(f"unsupported how={how!r}")

    from pyspark.sql import Window
    joined = (l_exp.join(r_tag, join_cond, "left")
              .drop(r_tag["__bucket"])
              .withColumn("__ok", F.coalesce(in_range, F.lit(False))))
    wid = Window.partitionBy("__lid")
    joined = (joined
              .withColumn("__any",
                          F.max(F.col("__ok").cast("int")).over(wid))
              .withColumn("__rn",
                          F.row_number().over(wid.orderBy("__bucket"))))
    keep = F.col("__ok") | ((F.col("__any") == 0) & (F.col("__rn") == 1))
    return (joined.filter(keep)
            .select(*left.columns,
                    *[F.when(F.col("__ok"), F.col(f"__rv_{c}")).alias(c)
                      for c in value_cols],
                    F.when(F.col("__ok"), F.col("__right_ts"))
                    .alias("__right_ts")))
