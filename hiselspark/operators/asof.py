"""Point-in-time (as-of / backward) join — the leakage-free feature join.

For every label row ``(entity_id, ts)`` attach, per feature column, the
most recent feature row of the same entity with ``feature_ts <= ts``
(or ``< ts`` when ``strict``), optionally within a tolerance window.
Semantics match ``pandas.merge_asof(direction="backward")`` and DuckDB
``ASOF JOIN`` (both used as oracles in tests), which is what the
reference-derived north rule requires (BASELINE.json: "as-of/backward
merge", "zero temporal leakage").

Two physical strategies, both shuffle-once:

* :func:`asof_join` (default) — **union + running last**: tag both
  sides, union them, and compute ``last(value, ignoreNulls=True)`` over
  a ``(entity)`` window in the match order.  Pure built-in
  operators: one hash shuffle on the entity key, whole-stage codegen,
  no Python in the hot path, and Catalyst/AQE handle partition
  coalescing.  This is the scale path — state per task is O(1) per
  entity (the running window frame), so it survives 1000 executors
  reading 100 TB as long as single-entity timelines fit a partition
  (they do: the shuffle key is the entity, and skewed entities are
  handled by AQE skew-join or upstream salting, see operators/skew.py).
* :func:`asof_join_cogrouped` — cogrouped ``applyInPandas`` running
  ``pd.merge_asof`` per entity group: Arrow-vectorized, useful when
  joining very many feature columns at once where the window variant
  would build one running-last state per column.

One core serves :func:`asof_join` (backward, forward, nearest),
:func:`asof_join_multi` and ``chunked.chunked_asof_join``:

* :func:`_tag_sides` tags both sides as ``(__k, __t, __side, __v)``
  plus the label passthrough columns (null on feature rows), where
  ``__v`` packs the whole feature row (one struct per table in
  :func:`asof_join_multi`);
* :data:`_ORDER` is the match order ``(__t, __side, __v)``.  The side
  rank decides whether an equal-timestamp feature row is visible
  (non-strict) or not (strict); the packed value struct breaks ties
  among feature rows on one ``(entity, ts)``: backward takes the
  lexicographic-max value tuple, forward the -min.  The winner
  therefore never depends on partition layout or shuffle arrival
  order, and it is SQL-expressible for oracles (argmax by value within
  ``(entity, ts)``, then a plain ASOF JOIN);
* :func:`_in_tolerance` is the tolerance test (:func:`_drop_stale`
  applies it to a matched struct), on the integer microsecond gap
  (``windows.ts_micros``), so a match exactly ``tolerance_seconds``
  away is kept whatever the timestamp;
* :func:`_unpack` turns the matched struct ``__m`` into
  ``{col}{suffix}`` columns and ``__matched_ts``.

:func:`asof_join_cogrouped` stays independent: it is the pandas
cross-check.
"""
from __future__ import annotations

from functools import reduce
from typing import Dict, List, Optional, Sequence, Tuple

import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F

from .windows import seconds_to_micros, ts_micros

_ORDER = ("__t", "__side", "__v")


def _tag_sides(
    labels: DataFrame,
    sides: Dict[str, Tuple[DataFrame, Optional[Sequence[str]]]],
    on: str,
    left_ts: str,
    right_ts: str,
    features_first: bool,
) -> Tuple[DataFrame, List[str], Dict[str, List[str]], int]:
    """Labels and feature rows as one frame ``(__k, __t, __side,
    *structs, *passthrough)``.

    ``sides`` maps each struct column (``__v``, or one per table in
    :func:`asof_join_multi`) to its feature frame and value columns
    (None: all but ``on`` and ``right_ts``).  ``__side`` ranks feature
    rows before labels at an equal ``ts`` when ``features_first``.
    Matched values are row-atomic: the whole feature row rides in its
    struct, so a running ``last(ignoreNulls)`` picks the latest feature
    ROW — a null field inside the matched row stays null, exactly like
    pandas ``merge_asof`` / DuckDB ``ASOF JOIN``.  A feature row holds
    null in every other side's struct, and label columns ride through
    the union (null on feature rows), so no join-back is needed.

    Returns the union, the passthrough columns, each struct's value
    columns and the label rows' side rank."""
    feat_rank = 0 if features_first else 1
    ltypes = {f.name: f.dataType for f in labels.schema.fields}
    passthrough = [c for c in labels.columns if c not in (on, left_ts)]
    vcols, packed = {}, {}
    for v, (frame, cols) in sides.items():
        vcols[v] = (list(cols) if cols is not None else
                    [c for c in frame.columns if c not in (on, right_ts)])
        packed[v] = frame.select(
            F.col(on).alias("__k"), F.col(right_ts).alias("__t"),
            F.struct(F.col(right_ts).alias("__mts"),
                     *[F.col(c).alias(f"v_{c}") for c in vcols[v]]).alias(v))
    nulls = {v: F.lit(None).cast(p.schema[v].dataType).alias(v)
             for v, p in packed.items()}
    tagged = [labels.select(
        F.col(on).alias("__k"), F.col(left_ts).alias("__t"),
        F.lit(1 - feat_rank).alias("__side"), *nulls.values(),
        *passthrough)]
    tagged += [p.select(
        "__k", "__t", F.lit(feat_rank).alias("__side"),
        *[F.col(u) if u == v else nulls[u] for u in packed],
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in passthrough])
        for v, p in packed.items()]
    return (reduce(DataFrame.unionByName, tagged), passthrough, vcols,
            1 - feat_rank)


def _match(backward: bool, *keys: str) -> Column:
    """Each row's matched feature struct over ``keys``: the last
    feature row at or before it in :data:`_ORDER` (backward), or the
    first at or after it (forward)."""
    w = Window.partitionBy(*keys).orderBy(*_ORDER)
    if backward:
        return F.last("__v", ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0))
    return F.first("__v", ignorenulls=True).over(
        w.rowsBetween(0, Window.unboundedFollowing))


def _in_tolerance(gap_us: Column, tolerance_seconds: float) -> Column:
    """The tolerance test on an integer-µs gap (null gap: no match)."""
    return gap_us <= F.lit(seconds_to_micros(tolerance_seconds))


def _drop_stale(filled: DataFrame, tolerance_seconds: Optional[float],
                m: str = "__m", backward: bool = True) -> DataFrame:
    """Null the matched struct ``m`` where it lies further than
    ``tolerance_seconds`` from the label (no tolerance: keep all)."""
    if tolerance_seconds is None:
        return filled
    gap = ts_micros("__t") - ts_micros(f"{m}.__mts")
    ok = _in_tolerance(gap if backward else -gap, tolerance_seconds)
    return filled.withColumn(m, F.when(ok, F.col(m)))


def _unpack(filled: DataFrame, on: str, left_ts: str,
            passthrough: Sequence[str], value_cols: Sequence[str],
            suffix: str) -> DataFrame:
    """Label rows with the matched struct ``__m`` unpacked."""
    return filled.select(
        F.col("__k").alias(on),
        F.col("__t").alias(left_ts),
        *passthrough,
        *[F.col(f"__m.v_{c}").alias(f"{c}{suffix}") for c in value_cols],
        F.col("__m.__mts").alias("__matched_ts"),
    )


def asof_join(
    labels: DataFrame,
    features: DataFrame,
    on: str = "entity_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: Optional[Sequence[str]] = None,
    tolerance_seconds: Optional[float] = None,
    strict: bool = False,
    suffix: str = "",
    direction: str = "backward",
) -> DataFrame:
    """As-of join via union + running ``last``/``first(...ignoreNulls)``.

    ``direction='backward'`` (default) matches the most recent feature
    row with ``feature_ts <= label_ts``; ``'forward'`` matches the
    earliest feature row with ``feature_ts >= label_ts`` (strict flips
    both to strict inequality); ``'nearest'`` takes whichever of the
    two is closer in absolute time, backward winning ties (pandas
    rule) — see :func:`_asof_join_nearest`, same one-shuffle plan.
    Matches pandas ``merge_asof`` directions and DuckDB ``ASOF JOIN``
    with ``<=`` / ``>=``.

    Returns ``labels`` with one extra column per feature value column
    (named ``f"{col}{suffix}"``), plus ``__matched_ts`` with the
    timestamp the value came from (null when no match — e.g. a label
    earlier than every feature row: zero temporal leakage by
    construction, since only rows ordered at-or-before the label in the
    match order can ever be seen by the running window).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unsupported direction={direction!r}")
    if direction == "nearest":
        return _asof_join_nearest(labels, features, on, left_ts,
                                  right_ts, value_cols,
                                  tolerance_seconds, strict, suffix)
    backward = direction == "backward"
    # backward: features sort before labels at equal ts so an
    # equal-timestamp feature IS visible (<=); strict puts labels
    # first.  Forward mirrors this around the frame direction.
    unioned, passthrough, vcols, label_rank = _tag_sides(
        labels, {"__v": (features, value_cols)}, on, left_ts, right_ts,
        features_first=backward != strict)
    filled = unioned.select(
        "__k", "__t", "__side", *passthrough,
        _match(backward, "__k").alias("__m"),
    ).filter(F.col("__side") == label_rank)
    filled = _drop_stale(filled, tolerance_seconds, backward=backward)
    return _unpack(filled, on, left_ts, passthrough, vcols["__v"], suffix)


def _asof_join_nearest(
    labels: DataFrame,
    features: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: Optional[Sequence[str]],
    tolerance_seconds: Optional[float],
    strict: bool,
    suffix: str,
) -> DataFrame:
    """``direction='nearest'`` on the union-window plan: the backward
    and forward candidates are two window aggregates over the SAME
    ``(entity)`` clustering and sort — one shuffle, one WindowExec —
    and the row picks whichever is closer in absolute time, backward
    winning ties (pandas ``merge_asof`` rule: ``left_distance <=
    right_distance``).

    Layout: non-strict puts features before labels at equal ``ts`` so
    an exact-timestamp match is seen by the backward frame with gap 0
    (and therefore always wins); strict puts labels first, which hides
    equal-ts features from the backward frame, and the forward match is
    additionally gated on ``gap > 0`` (the following frame does see
    equal-ts rows in that layout)."""
    unioned, passthrough, vcols, label_rank = _tag_sides(
        labels, {"__v": (features, value_cols)}, on, left_ts, right_ts,
        features_first=not strict)
    cand = unioned.select(
        "__k", "__t", "__side", *passthrough,
        _match(True, "__k").alias("__mb"),
        _match(False, "__k").alias("__mf"),
    ).filter(F.col("__side") == label_rank)

    t_us = ts_micros("__t")
    gap_b = t_us - ts_micros("__mb.__mts")
    gap_f = ts_micros("__mf.__mts") - t_us
    mb, mf = F.col("__mb"), F.col("__mf")
    if strict:
        mf = F.when(gap_f > 0, mf)
        gap_f = F.when(gap_f > 0, gap_f)
    if tolerance_seconds is not None:
        ok_b = _in_tolerance(gap_b, tolerance_seconds)
        ok_f = _in_tolerance(gap_f, tolerance_seconds)
        mb, gap_b = F.when(ok_b, mb), F.when(ok_b, gap_b)
        mf, gap_f = F.when(ok_f, mf), F.when(ok_f, gap_f)
    pick_b = mb.isNotNull() & (mf.isNull() | (gap_b <= gap_f))
    chosen = cand.select(
        "__k", "__t", *passthrough,
        F.when(pick_b, mb).otherwise(mf).alias("__m"),
    )
    return _unpack(chosen, on, left_ts, passthrough, vcols["__v"], suffix)


def asof_join_multi(
    labels: DataFrame,
    tables: "dict[str, DataFrame]",
    on: str = "entity_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: "Optional[dict[str, Sequence[str]]]" = None,
    tolerance_seconds: "Optional[dict[str, float]]" = None,
    strict: bool = False,
) -> DataFrame:
    """Backward as-of join of ONE label stream against MANY feature
    tables in a single shuffle — the feature-store enrichment shape
    (one entity timeline, K feature families maintained by K jobs).

    K separate :func:`asof_join` calls cost K shuffles of the
    (growing) label frame; here every feature table is tagged with its
    own packed value struct, all sides union with the labels, and the
    K running ``last(..., ignoreNulls)`` aggregates share ONE window
    (same partitioning, same ordering) — Catalyst compiles them into a
    single Exchange + Sort + WindowExec regardless of K (plan-asserted
    in tests).  At 100 TB this turns the enrichment stage from K
    entity-hash shuffles of an ever-wider frame into one shuffle of
    the union of inputs.

    Per-table semantics are exactly :func:`asof_join`
    ``direction='backward'``: most recent row at-or-before the label
    (strictly before with ``strict=True``), deterministic on
    same-timestamp ties via the packed value struct in the sort key,
    optional per-table staleness bound through ``tolerance_seconds``
    (dict ``table_name -> seconds``).

    Returns ``labels`` plus, per table ``t``, its value columns
    renamed ``f"{col}_{t}"`` and a ``f"__matched_ts_{t}"`` timestamp
    (null = no match, zero temporal leakage by construction).
    """
    names = list(tables)
    unioned, passthrough, vcols, label_rank = _tag_sides(
        labels,
        {f"__v_{t}": (tables[t], (value_cols or {}).get(t)) for t in names},
        on, left_ts, right_ts, features_first=not strict)

    # ONE sort order shared by every aggregate: ties within table t are
    # broken by __v_t itself (all other tables' structs are equally
    # null on t's rows), so each table's winner is layout-independent.
    w = (Window.partitionBy("__k")
               .orderBy(F.col("__t").asc(), F.col("__side").asc(),
                        *[F.col(f"__v_{t}").asc() for t in names])
               .rowsBetween(Window.unboundedPreceding, 0))
    filled = unioned.select(
        "__k", "__t", "__side", *passthrough,
        *[F.last(f"__v_{t}", ignorenulls=True).over(w).alias(f"__m_{t}")
          for t in names],
    ).filter(F.col("__side") == label_rank)

    for t in names:
        filled = _drop_stale(filled, (tolerance_seconds or {}).get(t),
                             f"__m_{t}")

    return filled.select(
        F.col("__k").alias(on),
        F.col("__t").alias(left_ts),
        *passthrough,
        *[c for t in names for c in
          (*[F.col(f"__m_{t}.v_{v}").alias(f"{v}_{t}")
             for v in vcols[f"__v_{t}"]],
           F.col(f"__m_{t}.__mts").alias(f"__matched_ts_{t}"))],
    )


def asof_join_cogrouped(
    labels: DataFrame,
    features: DataFrame,
    on: str = "entity_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: Optional[Sequence[str]] = None,
    tolerance_seconds: Optional[float] = None,
    strict: bool = False,
    suffix: str = "",
    direction: str = "backward",
) -> DataFrame:
    """As-of join via cogrouped ``applyInPandas`` running
    ``pd.merge_asof`` per entity.  One shuffle per side on the entity
    key; the per-group pandas merge is O(n log n) sort + linear scan.
    ``direction`` is any ``merge_asof`` direction — 'backward',
    'forward', or 'nearest' (all three also exist on the union-window
    strategy; this variant is the Arrow/pandas cross-check)."""
    import pyspark.sql.types as T

    if value_cols is None:
        value_cols = [c for c in features.columns if c not in (on, right_ts)]
    value_cols = list(value_cols)

    lab = labels
    out_fields = list(lab.schema.fields)
    fschema = {f.name: f.dataType for f in features.schema.fields}
    out_fields += [T.StructField(f"{c}{suffix}", fschema[c], True)
                   for c in value_cols]
    out_fields.append(T.StructField("__matched_ts",
                                    fschema[right_ts], True))
    out_schema = T.StructType(out_fields)
    label_cols = list(lab.columns)

    # rename the right side to unique internal names BEFORE the cogroup:
    # when both sides derive from the same source relation the left and
    # right ts attributes share expression ids, and the cogroup plan
    # deduplicates one away — the pandas frame then silently misses the
    # column.  Fresh aliases get fresh expression ids.
    feat = features.select(
        F.col(on).alias("__rk"),
        F.col(right_ts).alias("__rts"),
        *[F.col(c).alias(f"__rv_{i}") for i, c in enumerate(value_cols)])

    def merge(ldf: pd.DataFrame, rdf: pd.DataFrame) -> pd.DataFrame:
        if ldf.empty:
            return pd.DataFrame(columns=[f.name for f in out_fields])
        ldf = ldf.sort_values(left_ts, kind="mergesort")
        rdf = rdf.sort_values("__rts", kind="mergesort")
        right = rdf.rename(
            columns={"__rts": "__matched_ts",
                     **{f"__rv_{i}": f"{c}{suffix}"
                        for i, c in enumerate(value_cols)}})
        right = right[["__matched_ts"]
                      + [f"{c}{suffix}" for c in value_cols]]
        tol = (pd.Timedelta(seconds=tolerance_seconds)
               if tolerance_seconds is not None else None)
        merged = pd.merge_asof(
            ldf, right,
            left_on=left_ts, right_on="__matched_ts",
            direction=direction,
            allow_exact_matches=not strict,
            tolerance=tol,
        )
        return merged[label_cols + [f"{c}{suffix}" for c in value_cols]
                      + ["__matched_ts"]]

    return (
        lab.groupBy(on)
        .cogroup(feat.groupBy("__rk"))
        .applyInPandas(merge, out_schema)
    )


def scd2_join(
    facts: DataFrame,
    dim: DataFrame,
    on: str,
    fact_ts: str = "ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    value_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Point-in-time join of a fact stream against a slowly-changing
    type-2 dimension: each fact row picks up the dimension attributes
    whose validity period covers it (``valid_from <= fact_ts <
    valid_to``; ``valid_to`` NULL = current row, open-ended).

    For a well-formed SCD2 dimension (periods per key non-overlapping)
    this is exactly an as-of backward join on ``valid_from`` followed
    by a ``fact_ts < valid_to`` guard — so it rides the one-shuffle
    union plan of :func:`asof_join` instead of a generic interval
    join: the dimension's periods per key are totally ordered, and the
    latest ``valid_from`` at-or-before the fact IS the covering period
    if any period covers it.  Facts outside every period (before the
    first, or in a retired gap) keep NULL attributes, like SQL's
    LEFT JOIN ... BETWEEN.
    """
    if value_cols is None:
        value_cols = [c for c in dim.columns
                      if c not in (on, valid_from, valid_to)]
    value_cols = list(value_cols)
    out = asof_join(facts, dim, on=on, left_ts=fact_ts,
                    right_ts=valid_from,
                    value_cols=value_cols + [valid_to])
    covered = (F.col(valid_to).isNull()
               | (ts_micros(fact_ts) < ts_micros(valid_to)))
    matched = F.col("__matched_ts").isNotNull() & covered
    for c in value_cols:
        out = out.withColumn(c, F.when(matched, F.col(c)))
    return out.drop(valid_to, "__matched_ts")
