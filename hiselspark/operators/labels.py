"""Leakage-aware label generation over entity timelines.

Labels are where pipelines leak silently: a label computed from the
future is fine (that's what a label is), but it must be joined back to
features strictly as-of the DECISION time, and its own horizon must be
explicit so the purged temporal split (``operators/splits``) can
embargo it.  These operators make the horizon a first-class argument.

* :func:`triple_barrier` — the López de Prado labeling scheme: from
  each row, look forward up to ``horizon_seconds`` and label by which
  barrier is hit first — upper (``+1``), lower (``−1``) or the
  vertical time barrier (``0``).  Used on cumulative per-entity value
  series (equity-curve style) or any monitored metric.
* :func:`inactivity_label` — churn-style: 1 if the entity's NEXT event
  is more than ``horizon_seconds`` away, 0 otherwise, NULL for the
  last observed event (the future is unobserved — refusing to label is
  the honest answer, and the row count keeps the caller aware).

Both are single-window expressions on the shared entity clustering
(one shuffle, composing with the lag/rolling stack).  The forward scan
in ``triple_barrier`` buffers ``horizon``-bounded rows per position —
the same cost class as any rank-based rolling window — and evaluates
the first-crossing search with JVM higher-order functions on the
(deterministically sorted) forward array: no UDF, exact integer
comparisons, DuckDB-replayable.
Reference parity note: the reference engine (transferwise/hisel) has no
label-generation layer — this module belongs to the grafted supervised-
learning surface of the engine (north rule), alongside the point-in-time
operators.
"""
from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from .windows import (entity_window, seconds_to_micros, ts_micros,
                      ts_seconds)


def triple_barrier(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    col: str,
    horizon_seconds: float,
    up_frac: float = 0.05,
    dn_frac: float = 0.05,
    label_col: str = "tb_label",
    t_col: str = "tb_seconds",
) -> DataFrame:
    """First-barrier-hit label per row: +1 if ``col`` reaches
    ``x₀·(1+up_frac)`` within the horizon before it reaches
    ``x₀·(1−dn_frac)``, −1 for the reverse, 0 if neither barrier is
    hit (vertical barrier).  ``t_col`` = seconds to the deciding
    event (the horizon itself for label 0).  ``col`` should be a
    positive integer-quantized series (cents); barrier comparisons are
    doubles from exact integers — engine-reproducible.  Rows whose
    horizon extends past the entity's last observation still label 0 —
    interpret trailing labels with the same care as any
    right-censored target (the purged split embargoes them)."""
    us = ts_micros(ts_col)
    h_us = seconds_to_micros(horizon_seconds)
    w = (Window.partitionBy(entity_col).orderBy(us)
               .rangeBetween(1, h_us))
    fwd = F.array_sort(
        F.collect_list(F.struct(us.alias("us"),
                                F.col(col).cast("double").alias("v")))
        .over(w))
    d = df.withColumn("__us0", us).withColumn(
        "__x0", F.col(col).cast("double"))
    up = F.col("__x0") * (1.0 + float(up_frac))
    dn = F.col("__x0") * (1.0 - float(dn_frac))
    hit = F.filter(fwd, lambda e: (e["v"] >= up) | (e["v"] <= dn))
    first = F.get(hit, 0)  # null-safe on the no-hit (empty) case
    label = (F.when(first.isNull(), F.lit(0))
              .when(first["v"] >= up, F.lit(1))
              .otherwise(F.lit(-1)))
    t = (F.when(first.isNull(), F.lit(float(horizon_seconds)))
          .otherwise((first["us"] - F.col("__us0")) / 1_000_000.0))
    return (d.withColumn(label_col, label)
             .withColumn(t_col, t)
             .drop("__us0", "__x0"))


def inactivity_label(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    horizon_seconds: float,
    label_col: str = "churned",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """1 if the gap to the entity's next event exceeds the horizon, 0
    otherwise, NULL on the entity's last observed event."""
    w = entity_window(entity_col, ts_col, *tiebreak)
    nxt = F.lead(ts_seconds(ts_col)).over(w)
    gap = nxt - ts_seconds(ts_col)
    return df.withColumn(
        label_col,
        F.when(nxt.isNull(), F.lit(None).cast("int"))
         .otherwise((gap > float(horizon_seconds)).cast("int")))


def rfm_features(df: DataFrame, entity_col: str, ts_col: str,
                 value_col: str, cutoff_ts: str,
                 n_bins: int = 5) -> DataFrame:
    """RFM (recency / frequency / monetary) features per entity at a
    point-in-time cutoff — the classic customer-value featurization,
    leakage-free by construction (only events strictly BEFORE the
    cutoff count):

    * recency_days — integer days from the last pre-cutoff event to
      the cutoff (floor division of the microsecond gap)
    * frequency — pre-cutoff event count
    * monetary — pre-cutoff integer-value sum (cents convention)

    plus equal-frequency scores r_score/f_score/m_score in [0, B)
    from the exact CDF rule of :func:`encoding.quantile_bin` (recency
    binned on its NEGATIVE so "more recent" scores higher, matching
    the RFM convention).  All exact integers; one entity aggregation
    + three bounded count-table joins.
    """
    from .encoding import quantile_bin
    cut = F.lit(cutoff_ts).cast("timestamp")
    pre = df.filter(F.col(ts_col).cast("timestamp") < cut)
    agg = pre.groupBy(F.col(entity_col).alias("entity")).agg(
        F.expr(f"(unix_micros(CAST('{cutoff_ts}' AS TIMESTAMP))"
               f" - max(unix_micros(CAST({ts_col} AS TIMESTAMP))))"
               " DIV 86400000000").alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col(value_col).cast("long")).alias("monetary"))
    agg = agg.withColumn("neg_recency", -F.col("recency_days"))
    out = quantile_bin(agg, "neg_recency", n_bins, out_col="r_score")
    out = quantile_bin(out, "frequency", n_bins, out_col="f_score")
    out = quantile_bin(out, "monetary", n_bins, out_col="m_score")
    return out.select("entity", "recency_days", "frequency",
                      "monetary", "r_score", "f_score", "m_score")


def horizon_label(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    positive,
    horizon_seconds: float,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """The standard supervised horizon label: for each row, does a
    qualifying event (``positive`` boolean column) occur for the same
    entity strictly after it in the (ts, tiebreak) order and within
    ``horizon_seconds``?  (Pass a unique ``tiebreak`` so
    same-timestamp rows order deterministically.)

    Censoring is explicit, not silent: rows whose window extends past
    the entity's last observed event and saw no positive get a NULL
    label (we cannot know — the classic right-censoring that silently
    poisons "did not convert" labels near the data edge); rows with a
    fully observed window and no positive get 0.

    Columns appended: ``label`` (1/0/NULL), ``tte_seconds`` (time to
    the first qualifying event when one exists within the horizon,
    else NULL), ``censored`` (1 on NULL labels).  Exact integer
    microsecond arithmetic on one entity-clustered WindowExec pair
    (future-min + entity-max share the clustering).
    """
    us = ts_micros(ts_col)
    h_us = seconds_to_micros(horizon_seconds)
    order = [us] + [F.col(c) for c in tiebreak]
    w_future = (Window.partitionBy(entity_col).orderBy(*order)
                .rowsBetween(1, Window.unboundedFollowing))
    w_all = (Window.partitionBy(entity_col)
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    pos_us = F.when(F.col("_pos"), F.col("_us"))
    d = (df.withColumn("_us", us)
           .withColumn("_pos", positive)
           .withColumn("_next_q", F.min(pos_us).over(w_future))
           .withColumn("_last", F.max("_us").over(w_all)))
    hit = F.col("_next_q").isNotNull() \
        & (F.col("_next_q") - F.col("_us") <= h_us)
    observed = (F.col("_last") - F.col("_us")) >= h_us
    label = (F.when(hit, F.lit(1))
              .when(observed, F.lit(0))
              .otherwise(F.lit(None).cast("int")))
    tte = F.when(hit, (F.col("_next_q") - F.col("_us"))
                 .cast("double") / 1e6)
    return (d.withColumn("label", label)
             .withColumn("tte_seconds", tte)
             .withColumn("censored",
                         F.when(label.isNull(), 1).otherwise(0))
             .drop("_us", "_pos", "_next_q", "_last"))
