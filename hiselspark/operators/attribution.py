"""Marketing-touch attribution: first/last touch per conversion.

For every conversion event, find the first and the last qualifying
touch event by the same entity inside the attribution window
``[t_conv − horizon, t_conv]`` — the two classic single-touch credit
models (last-touch is the default in most analytics stacks;
first-touch credits discovery).  Emitting both from one pass also
gives U-shaped models their endpoints.

Scale shape: ONE entity shuffle.  Touches and conversions stay in the
same ordered stream; two RANGE-framed window aggregates (min/max over
a struct of exact integers) compute the first/last touch for every
row, and conversions are filtered afterwards — no touch×conversion
join, no per-entity collection, bounded state per window frame.

Semantics and determinism: timestamps are exact integer microseconds;
the RANGE frame means touches sharing the conversion's timestamp
qualify regardless of their tiebreaker order (documented, matches the
SQL replay).  The struct ordering (t, order, value) makes argmin/
argmax total, so ties land identically in any engine.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .windows import ts_micros


def touch_attribution(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    is_touch: Column,
    is_conversion: Column,
    horizon_seconds: int,
) -> DataFrame:
    """One row per conversion: (entity, conv_id, conv_t_us,
    first_touch_id, last_touch_id, last_latency_us).  ``*_id`` are the
    touch rows' ``order_col`` values; conversions with no touch in
    the window keep NULL ids.  ``last_latency_us`` is the exact
    microsecond gap conversion-minus-last-touch."""
    if horizon_seconds <= 0:
        raise ValueError("horizon_seconds must be positive")
    t = ts_micros(ts_col).alias("__t")
    base = df.select(
        F.col(entity_col).alias("entity"), t,
        F.col(order_col).cast("long").alias("__o"),
        is_touch.alias("__touch"), is_conversion.alias("__conv"))
    w = (Window.partitionBy("entity").orderBy("__t")
         .rangeBetween(-horizon_seconds * 1_000_000, 0))
    tstruct = F.when(F.col("__touch"),
                     F.struct(F.col("__t").alias("t"),
                              F.col("__o").alias("o")))
    cur = (base
           .withColumn("__first", F.min(tstruct).over(w))
           .withColumn("__last", F.max(tstruct).over(w)))
    return (cur.filter("__conv")
            .select(F.col("entity"),
                    F.col("__o").alias("conv_id"),
                    F.col("__t").alias("conv_t_us"),
                    F.col("__first.o").alias("first_touch_id"),
                    F.col("__last.o").alias("last_touch_id"),
                    (F.col("__t") - F.col("__last.t"))
                    .alias("last_latency_us")))


def u_shaped_attribution(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    is_touch: Column,
    is_conversion: Column,
    horizon_s: int = 7 * 86400,
) -> DataFrame:
    """U-shaped (position-based) MULTI-touch credit — the 40/20/40
    model completing :func:`touch_attribution`'s single-touch
    endpoints: every conversion distributes exactly 1000 per-mille
    credits over its strictly-earlier touches within the horizon —
    40% to the first touch, 40% to the last, 20% split over the
    middles, ALL IN EXACT INTEGERS:

        m = 1: 1000          m = 2: 500 / 500
        m ≥ 3: first 400, last 400, middle j of k gets
               200 DIV k + (1 if j ≤ 200 % k) — the remainder goes
               to the EARLIEST middles, so Σ credit = 1000 exactly
               per conversion (pytest-asserted).

    Plan: a per-entity interval join pairs each conversion with its
    qualifying touches (bounded by rate × horizon — the documented
    contract of every interval join here), then one window per
    conversion ranks touches by (ts, order) and the credit rule is
    pure integer CASE arithmetic.  Strictly-earlier (touch ts <
    conversion ts) — zero leakage, the PIT convention.  Conversions
    with no touch in the window are absent from the output (count
    them upstream via touch_attribution's NULL rows).  Returns one
    row per (conversion, touch): (entity, conv_order, conv_ts_us,
    touch_order, touch_ts_us, m_touches, pos, credit_pm)."""
    us = ts_micros(ts_col)
    base = df.select(F.col(entity_col).alias("entity"),
                     us.alias("us"),
                     F.col(order_col).cast("long").alias("o"),
                     is_touch.alias("is_t"),
                     is_conversion.alias("is_c"))
    convs = (base.filter("is_c")
             .select("entity", F.col("us").alias("c_us"),
                     F.col("o").alias("c_o")))
    touches = (base.filter("is_t")
               .select("entity", F.col("us").alias("t_us"),
                       F.col("o").alias("t_o")))
    h = int(horizon_s) * 1_000_000
    j = convs.join(
        touches,
        ["entity"]).filter(
        (F.col("t_us") < F.col("c_us"))
        & (F.col("t_us") >= F.col("c_us") - F.lit(h)))
    w = Window.partitionBy("entity", "c_us", "c_o").orderBy(
        F.col("t_us").asc(), F.col("t_o").asc())
    wall = Window.partitionBy("entity", "c_us", "c_o")
    ranked = (j.withColumn("pos", F.row_number().over(w))
               .withColumn("m", F.count(F.lit(1)).over(wall)))
    k = F.col("m") - 2
    jmid = F.col("pos") - 1            # middle index, 1-based
    credit = (
        F.when(F.col("m") == 1, F.lit(1000))
         .when(F.col("m") == 2, F.lit(500))
         .when(F.col("pos") == 1, F.lit(400))
         .when(F.col("pos") == F.col("m"), F.lit(400))
         .otherwise(F.expr("200 DIV (m - 2)")
                    + F.when(jmid <= F.expr("200 % (m - 2)"),
                             F.lit(1)).otherwise(F.lit(0))))
    return ranked.select(
        "entity",
        F.col("c_o").alias("conv_order"),
        F.col("c_us").alias("conv_ts_us"),
        F.col("t_o").alias("touch_order"),
        F.col("t_us").alias("touch_ts_us"),
        F.col("m").cast("long").alias("m_touches"),
        F.col("pos").cast("long").alias("pos"),
        credit.cast("long").alias("credit_pm"))
