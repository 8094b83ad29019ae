"""Time-grid resampling: regularize each entity's event timeline onto a
fixed-step timestamp grid (pandas ``resample``/``asfreq`` + ``ffill``,
point-in-time-safe).

Feature stores serve models that expect one feature vector per
``(entity, grid_tick)`` even though events arrive irregularly; the
leakage-free way to build that is an as-of lookup of the latest event
at-or-before each tick.  This composes two existing scale-safe pieces:

1. per-entity bounds (one partial-aggregated ``groupBy`` shuffle) +
   ``F.sequence`` to *generate* the grid distributed — no driver loop,
   no cross join against a calendar table;
2. :func:`hiselspark.operators.asof.asof_join` grid←events (one
   entity-key shuffle, running ``last`` — never a per-tick probe).

At 10^12-row scale the grid is ``n_entities × ticks`` rows — generated
directly at its final partitioning, proportional to output size, never
materialized on the driver.  Grid ticks are integer epoch-second
arithmetic (``floor(epoch/step)*step``) so engines agree exactly.

Reference parity note: the reference engine (transferwise/hisel) has no
timeline layer — this belongs to the grafted point-in-time surface
(north rule), alongside lag/lead/ffill/sessionize.
"""
from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from .asof import asof_join
from .windows import ts_micros


def time_grid(
    entities: DataFrame,
    entity_col: str,
    ts_col: str,
    step_seconds: int,
    grid_ts_col: str = "grid_ts",
) -> DataFrame:
    """One row per ``(entity, tick)``: ticks run from the entity's first
    event's tick (epoch floored to a ``step_seconds`` boundary) to its
    last event, inclusive.  Pure relational plan: min/max aggregate →
    ``sequence`` → ``explode``."""
    step = int(step_seconds)
    if step <= 0:
        raise ValueError(f"step_seconds must be positive, got {step}")
    sec = F.col(ts_col).cast("timestamp").cast("double")
    bounds = (
        entities
        .groupBy(entity_col)
        .agg(
            F.floor(F.min(sec) / step).alias("__t0"),
            F.floor(F.max(sec) / step).alias("__t1"),
        )
    )
    ticks = F.sequence(F.col("__t0") * step, F.col("__t1") * step,
                       F.lit(step))
    return (bounds
            .select(entity_col, F.explode(ticks).alias("__gs"))
            .withColumn(grid_ts_col, F.timestamp_seconds(F.col("__gs")))
            .drop("__gs"))


def resample_interp(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    step_seconds: int,
    value_col: str,
    grid_ts_col: str = "grid_ts",
    tie_col: Optional[str] = None,
    out_col: Optional[str] = None,
) -> DataFrame:
    """Linear interpolation onto the per-entity time grid (pandas
    ``resample().interpolate('time')``): each tick gets the
    time-weighted blend of the surrounding observations,

        v = v_prev + (v_next − v_prev) · (t − t_prev)/(t_next − t_prev)

    with exact passthrough on ticks that hit an observation, the
    boundary convention of pandas (before the first observation →
    NULL; after the last → last value held).

    NOTE: interpolation READS THE FUTURE (``t_next``) — this is the
    offline/label-side resampler; the leakage-free feature-side twin
    is :func:`resample_ffill`.

    Two as-of passes (backward + forward) over the same entity
    clustering; microsecond-integer time deltas keep the weight
    arithmetic engine-exact.
    """
    out_col = out_col or value_col
    per_ts = events.select(entity_col, ts_col, *(
        [tie_col] if tie_col else []), value_col)
    if tie_col is not None:
        per_ts = (per_ts
                  .groupBy(entity_col, ts_col)
                  .agg(F.max_by(value_col, tie_col).alias(value_col)))
    grid = time_grid(per_ts, entity_col, ts_col, step_seconds,
                     grid_ts_col=grid_ts_col)
    back = asof_join(grid, per_ts, on=entity_col, left_ts=grid_ts_col,
                     right_ts=ts_col, value_cols=[value_col],
                     suffix="_prev")
    back = back.withColumnRenamed("__matched_ts", "__t_prev")
    both = asof_join(back, per_ts, on=entity_col, left_ts=grid_ts_col,
                     right_ts=ts_col, value_cols=[value_col],
                     suffix="_next", direction="forward")
    both = both.withColumnRenamed("__matched_ts", "__t_next")

    t, t0, t1 = (ts_micros(grid_ts_col), ts_micros("__t_prev"),
                 ts_micros("__t_next"))
    v0 = F.col(f"{value_col}_prev").cast("double")
    v1 = F.col(f"{value_col}_next").cast("double")
    interp = (
        F.when(F.col("__t_prev").isNull(), F.lit(None).cast("double"))
         .when(F.col("__t_next").isNull() | (t1 == t0), v0)
         .otherwise(v0 + (v1 - v0)
                    * ((t - t0).cast("double")
                       / (t1 - t0).cast("double")))
    )
    return (both.withColumn(out_col, interp)
                .select(entity_col, grid_ts_col, out_col))


def resample_ffill(
    events: DataFrame,
    entity_col: str,
    ts_col: str,
    step_seconds: int,
    value_cols: Sequence[str],
    grid_ts_col: str = "grid_ts",
    tie_col: Optional[str] = None,
) -> DataFrame:
    """Forward-fill ``value_cols`` onto the per-entity time grid: each
    output row is ``(entity, grid_ts, values as of grid_ts)`` where
    "as of" means the latest event with ``ts <= grid_ts`` (NULL before
    the first event — a tick can precede it when the first event is
    mid-bucket).

    When several events share one ``(entity, ts)``, ``tie_col`` picks
    the winner deterministically (the row with the max ``tie_col``,
    e.g. an event id) before the as-of lookup, so the result does not
    depend on partition layout.
    """
    value_cols = list(value_cols)
    per_ts = events.select(entity_col, ts_col, *(
        [tie_col] if tie_col else []), *value_cols)
    if tie_col is not None:
        per_ts = (per_ts
                  .groupBy(entity_col, ts_col)
                  .agg(*[F.max_by(c, tie_col).alias(c)
                         for c in value_cols]))
    grid = time_grid(per_ts, entity_col, ts_col, step_seconds,
                     grid_ts_col=grid_ts_col)
    out = asof_join(grid, per_ts, on=entity_col, left_ts=grid_ts_col,
                    right_ts=ts_col, value_cols=value_cols)
    return out.drop("__matched_ts")


def ohlc_bars(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    col: str,
    bar_seconds: int = 86400,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Downsample an irregular entity timeline into fixed tumbling
    bars with open/high/low/close + count + sum — the canonical
    "candlestick" resample (pandas ``resample().ohlc()``), and the
    standard first step before any bar-level feature (returns, ranges,
    gap-ups).

    ``open``/``close`` are *positional* (first/last value in the bar
    by ``(ts, tiebreak)``), not extrema — expressed as two
    ``row_number`` windows (ascending + descending) over the
    ``(entity, bar)`` clustering followed by a conditional aggregate.
    The windows and the final ``groupBy`` share one hash partitioning
    on ``(entity, bar)``, so the whole operator is a single shuffle;
    bar ids are integer epoch arithmetic (``floor(us / bar_us)``) so
    engines agree exactly.  Empty bars are absent (join against
    :func:`time_grid` to densify)."""
    from pyspark.sql import Window
    from .windows import ts_seconds

    bar_us = int(bar_seconds) * 1_000_000
    us = ts_micros(ts_col)
    d = df.withColumn("__us", us).withColumn(
        "__bar", F.floor(F.col("__us") / bar_us).cast("long"))
    asc = [F.col("__us").asc()] + [F.col(c).asc() for c in tiebreak]
    desc = [F.col("__us").desc()] + [F.col(c).desc() for c in tiebreak]
    w_a = Window.partitionBy(entity_col, "__bar").orderBy(*asc)
    w_d = Window.partitionBy(entity_col, "__bar").orderBy(*desc)
    d = (d.withColumn("__rna", F.row_number().over(w_a))
          .withColumn("__rnd", F.row_number().over(w_d)))
    return (d.groupBy(entity_col, "__bar")
             .agg(F.max(F.when(F.col("__rna") == 1, F.col(col)))
                   .alias("open"),
                  F.max(col).alias("high"),
                  F.min(col).alias("low"),
                  F.max(F.when(F.col("__rnd") == 1, F.col(col)))
                   .alias("close"),
                  F.count(col).alias("n"),
                  F.sum(col).alias("total"))
             .withColumn("bar_start",
                         (F.col("__bar") * int(bar_seconds)).cast("long"))
             .drop("__bar"))
