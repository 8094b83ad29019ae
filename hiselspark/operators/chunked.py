"""Skew-proof (chunked) timeline operators — exact results on hot keys.

The plain window/as-of operators cluster by the entity key, so a hot
entity (spam account, default id) puts its whole timeline in ONE task:
a straggler that caps scaling no matter how many executors exist.  The
operators here cluster by ``(entity, time-bucket)`` instead — a hot
entity's 90-day timeline splits into ``span/bucket`` independent tasks
— while producing **bit-identical results** to the plain operators.

Cost discipline: each operator clusters the full frame with ONE
``repartition(entity, bucket)`` (for rolling, the time-overlap context
rows are ``explode``-duplicated narrowly in the same scan BEFORE that
shuffle, not as a second union branch).  Everything cross-bucket rides
on per-(entity, bucket) summary tables: one row per non-empty bucket
per entity, grouped on the clustering keys, prefix-scanned per entity
(tiny windows, pure JVM), and joined back on the clustering keys.
The summary branch and the join's big side do NOT share one
evaluation of the input: the summary needs fewer columns and its
filters are pushed below the clustering repartition, so its exchange
never matches the big side's and is not reused — each branch
re-evaluates the operator's input (measured on the pipeline's
training frame without its caches: the fused image scan ran 3 times
and the timeline twice).  One cache rule holds for every chunked
operator, here and in ``operators/encoding.py``: operators never
persist; a caller whose input is expensive (image decode, an upstream
timeline) materializes it first and unpersists it when done, as
``pipeline.assemble_training_frame`` does.  (No
broadcast hints: a per-(entity, bucket) table grows with the corpus,
and the driver-side broadcast build measurably dominated the stage
wall even at 500k rows; AQE may still choose broadcast when a summary
is genuinely small.)

Plan discipline: a rolling operator materializes the µs order key once
(``__us``) and derives the bucket and the overlap test from it; window
expressions that share a spec go in one ``select``, so each spec is one
window operator (and one sort); a prefix list read more than once is
its own column.  Every operator adds generated classes that Spark
compiles and caches, and a call that generates more classes than the
codegen cache holds (``spark.sql.codegen.cache.maxEntries``, 100 by
default) recompiles some of them on every call.

Exactness mechanisms, per operator:

* rolling (time-range): rows within ``window_seconds`` of a bucket end
  are duplicated into the next bucket as context (rows older than the
  reach cannot matter, so one-bucket forwarding is exact);
* lags (row-based, NOT time-bounded): each bucket's carry-in — the
  ``max(lags)`` rows preceding it across ALL earlier buckets, however
  sparse — is folded from per-bucket tail arrays and consulted by the
  first rows of the bucket;
* sessionize: local gap flags, with the bucket's first row resolved
  against the previous bucket's last timestamp and the session-id base
  prefix-summed over buckets;
* as-of join: the per-bucket last feature row is prefix-filled over
  buckets and joined on as a seed COLUMN (``coalesce(running_last,
  seed)``) — no seed rows, no second shuffle.  Side tagging, the match
  order ``(ts, side, value struct)``, the tolerance test and the
  unpacking are ``asof.py``'s, so the running window and the seed
  break ties on (entity, ts) the same way as ``asof_join``.

The equality contract is asserted by tests/test_chunked.py against the
plain operators on hot, sparse, and boundary-heavy inputs.
"""
from __future__ import annotations

from typing import Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from .asof import _ORDER, _drop_stale, _match, _tag_sides, _unpack
from .windows import seconds_to_micros, ts_micros, ts_seconds

_B = "__bucket"
_CTX = "__ctx"
_US = "__us"


def _bucket(us: Column, bucket_seconds: float) -> Column:
    return F.floor(us / F.lit(seconds_to_micros(bucket_seconds)))


def _bucket_of(ts_col, bucket_seconds: float) -> Column:
    return _bucket(ts_micros(ts_col), bucket_seconds)


def _cluster(df: DataFrame, entity_col: str) -> DataFrame:
    """THE one full-frame shuffle: hash-cluster on (entity, bucket).
    Downstream windows/groupBys on these keys reuse the partitioning.

    Never persisted: each branch of the caller (summary table, join
    big side) re-evaluates the input, because the branches' exchanges
    differ in columns and pushed-down filters and Spark does not reuse
    one for the other.  Persisting here measured slower than that
    re-evaluation on a cheap input (same-day A/B at 2M images:
    no-persist plan 1.5× faster end-to-end, ``plan_cost_ab`` in
    BENCH_SCALING.json); a caller with an expensive input materializes
    it instead, as ``pipeline.assemble_training_frame`` does."""
    return df.repartition(F.col(entity_col), F.col(_B))


# ---------------------------------------------------------------------------
# lags
# ---------------------------------------------------------------------------

def _last_k(arr: Column, k: int) -> Column:
    """The last ``k`` elements of ``arr``.  NB ``slice`` with a
    negative start returns EMPTY for arrays shorter than k, so shorter
    arrays are kept whole."""
    return F.when(F.size(arr) <= k, arr).otherwise(F.slice(arr, -k, k))


def _tail_arrays(clustered: DataFrame, entity_col: str, k: int,
                 sort_struct) -> DataFrame:
    """Per-(entity, bucket) array of the last ``k`` rows (ascending).
    No shuffle: the groupBy keys match the clustering."""
    return clustered.groupBy(entity_col, _B).agg(
        _last_k(F.sort_array(F.collect_list(sort_struct)), k)
        .alias("__tail"))


def _carry_arrays(tails: DataFrame, entity_col: str, k: int) -> DataFrame:
    """Fold tails over buckets per entity: each bucket's carry-in = the
    k rows preceding it across all earlier buckets.  Pure window
    expressions — concatenate every EARLIER bucket's tail (each already
    holds that bucket's last <= k rows, so the flattened prefix is
    exactly the candidate pool) and keep the last k.  The prefix is
    its own column, so its ``collect_list`` runs once, not once per
    reference in ``_last_k``.  An earlier ``applyInPandas`` fold
    computed the same thing 10x slower: with one summary row per
    (entity, bucket) the per-group pandas construction overhead
    dominated (measured ~1.5 ms x 10k entities = the whole stage), and
    it put a Python stage in an otherwise codegen'd plan."""
    w_prev = (Window.partitionBy(entity_col).orderBy(_B)
              .rowsBetween(Window.unboundedPreceding, -1))
    prev = tails.select(
        entity_col, _B,
        F.flatten(F.collect_list("__tail").over(w_prev)).alias("__prev"))
    return prev.select(entity_col, _B,
                       _last_k(F.col("__prev"), k).alias("__carry"))


def _with_lags(clustered: DataFrame, entity_col: str, ts_col: str,
               cols: Sequence[str], lags: Sequence[int]) -> DataFrame:
    """Lags of ``cols`` on a frame clustered by (entity, bucket): the
    local ``lag`` inside the bucket, and the bucket's carry-in for its
    first ``max(lags)`` rows.  Ties in ``ts`` are ordered by the value
    columns.  The row number and every lag share one window spec, so
    they run in one window operator.  Drops the bucket column."""
    k = max(lags)
    sort_struct = F.struct(F.col(ts_col).alias("__t"),
                           *[F.col(c).alias(c) for c in cols])
    carries = _carry_arrays(
        _tail_arrays(clustered, entity_col, k, sort_struct), entity_col, k)

    joined = clustered.join(carries, [entity_col, _B], "left")
    w_local = Window.partitionBy(entity_col, _B).orderBy(
        F.col(ts_col), *[F.col(c) for c in cols])
    rn = F.row_number().over(w_local)
    size = F.coalesce(F.size("__carry"), F.lit(0))
    lagged = []
    for c in cols:
        for j in lags:
            need = F.lit(j) - rn + 1                 # rows missing locally
            idx = size - need + 1                    # 1-based from end
            from_carry = F.when(
                (need >= 1) & (idx >= 1),
                F.element_at("__carry", idx.cast("int"))[c])
            lagged.append(
                F.when(rn > j, F.lag(c, j).over(w_local))
                .otherwise(from_carry).alias(f"{c}_lag{j}"))
    keep = [c for c in joined.columns if c not in (_B, "__carry")]
    return joined.select(*keep, *lagged)


def chunked_lags(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    cols: Sequence[str],
    lags: Sequence[int] = (1,),
    bucket_seconds: float = 7 * 86400.0,
) -> DataFrame:
    """Exact twin of ``windows.with_lags`` clustered by (entity,
    bucket), correct under arbitrary bucket sparsity.

    Ties in ``ts`` are ordered by the value columns — the same rule as
    the plain operator (``windows.with_lags``), so the two paths agree
    row-for-row even on tied timestamps."""
    clustered = _cluster(
        df.withColumn(_B, _bucket_of(ts_col, bucket_seconds)), entity_col)
    return _with_lags(clustered, entity_col, ts_col, list(cols), lags)


# ---------------------------------------------------------------------------
# rolling
# ---------------------------------------------------------------------------

def _rolling_exprs(aggs: Dict[str, Sequence[str]], window_seconds: float,
                   w) -> List[Column]:
    fns = {"sum": F.sum, "mean": F.avg, "min": F.min, "max": F.max,
           "count": F.count, "std": F.stddev_samp}
    return [fns[name](c).over(w)
            .alias(f"{c}_roll_{name}_{window_seconds:g}s")
            for c, names in aggs.items() for name in names]


def _overlap_context(tagged: DataFrame, bucket_seconds: float,
                     overlap_seconds: float) -> DataFrame:
    """Narrow (pre-shuffle) duplication of each bucket's last
    ``overlap_seconds`` of rows into the next bucket, flagged __ctx=1.

    Single-scan form: each tail-window row ``explode``s into itself
    plus its next-bucket context copy, so this step reads its input
    once (an earlier two-branch union scanned it twice)."""
    bucket_us = seconds_to_micros(bucket_seconds)
    in_tail = (F.col(_US) >= (F.col(_B) + 1) * bucket_us
               - F.lit(seconds_to_micros(overlap_seconds)))
    dup = F.explode(F.when(in_tail, F.array(F.lit(0), F.lit(1)))
                    .otherwise(F.array(F.lit(0))))
    out = tagged.withColumn(_CTX, dup)
    return out.withColumn(_B, F.col(_B) + F.col(_CTX))


def _clustered_with_context(df: DataFrame, entity_col: str, ts_col: str,
                            bucket_seconds: float,
                            window_seconds: float) -> DataFrame:
    """The rolling operators' input: the µs key materialized once as
    ``__us`` (the bucket, the overlap test and the range window all
    read it), the overlap context rows, clustered on (entity, bucket).
    Needs ``window_seconds <= bucket_seconds``."""
    if window_seconds > bucket_seconds:
        raise ValueError("rolling window must fit in one bucket")
    keyed = df.withColumn(_US, ts_micros(ts_col))
    tagged = keyed.withColumn(_B, _bucket(F.col(_US), bucket_seconds))
    return _cluster(_overlap_context(tagged, bucket_seconds, window_seconds),
                    entity_col)


def _range_window(entity_col: str, window_seconds: float, upper: int = 0):
    """Trailing time range per (entity, bucket), ordered by ``__us``."""
    return (Window.partitionBy(entity_col, _B).orderBy(_US)
            .rangeBetween(-seconds_to_micros(window_seconds), upper))


def chunked_rolling(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    aggs: Dict[str, Sequence[str]],
    window_seconds: float,
    bucket_seconds: float = 7 * 86400.0,
    include_current: bool = True,
) -> DataFrame:
    """Exact twin of ``windows.rolling_aggregates`` clustered by
    (entity, bucket); needs ``window_seconds <= bucket_seconds``."""
    clustered = _clustered_with_context(df, entity_col, ts_col,
                                        bucket_seconds, window_seconds)
    w = _range_window(entity_col, window_seconds,
                      0 if include_current else -1)
    out = clustered.select("*", *_rolling_exprs(aggs, window_seconds, w))
    return out.filter(F.col(_CTX) == 0).drop(_CTX, _B, _US)


# ---------------------------------------------------------------------------
# sessionize
# ---------------------------------------------------------------------------

def _session_pieces(clustered: DataFrame, entity_col: str, ts_col: str,
                    gap_seconds: float):
    """Local gap flags + the per-bucket summary with each bucket's
    session-id base.  Shares the caller's clustering (no shuffle for
    the groupBy; a tiny per-entity window on the summary)."""
    w_local = Window.partitionBy(entity_col, _B).orderBy(ts_col)
    prev_local = F.lag(F.col(ts_col)).over(w_local)
    gap = F.lit(float(gap_seconds))
    inner_new = (prev_local.isNotNull()
                 & ((ts_seconds(ts_col) - ts_seconds(prev_local)) > gap)
                 ).cast("long")
    flagged = (clustered
               .withColumn("__inner_new", inner_new)
               .withColumn("__is_first",
                           (F.row_number().over(w_local) == 1).cast("long")))

    summary = (flagged.groupBy(entity_col, _B)
               .agg(F.min(ts_col).alias("__first_ts"),
                    F.max(ts_col).alias("__last_ts"),
                    F.sum("__inner_new").alias("__inner_starts")))
    w_b = Window.partitionBy(entity_col).orderBy(_B)
    carry_last = F.lag("__last_ts").over(w_b)
    first_new = F.when(
        carry_last.isNull()
        | ((ts_seconds(F.col("__first_ts")) - ts_seconds(carry_last))
           > gap),
        F.lit(1)).otherwise(F.lit(0))
    summary = summary.withColumn("__first_new", first_new)
    starts = F.col("__first_new") + F.col("__inner_starts")
    summary = summary.withColumn(
        "__base",
        F.coalesce(
            F.sum(starts).over(
                w_b.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)))
    return flagged, summary.select(entity_col, _B, "__first_new", "__base")


def chunked_sessionize(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    gap_seconds: float = 1800.0,
    session_col: str = "session_id",
    bucket_seconds: float = 7 * 86400.0,
) -> DataFrame:
    """Exact twin of ``windows.sessionize`` without the per-entity
    straggler (two-level scan, see module docstring)."""
    clustered = _cluster(
        df.withColumn(_B, _bucket_of(ts_col, bucket_seconds)), entity_col)
    flagged, summary = _session_pieces(clustered, entity_col, ts_col,
                                       gap_seconds)
    joined = flagged.join(summary, [entity_col, _B])
    w_local = Window.partitionBy(entity_col, _B).orderBy(ts_col)
    local_flag = (F.col("__inner_new")
                  + F.col("__is_first") * F.col("__first_new"))
    w_cum = w_local.rowsBetween(Window.unboundedPreceding, 0)
    out = joined.withColumn(
        session_col,
        F.col("__base") + F.sum(local_flag).over(w_cum) - 1)
    return out.drop(_B, "__inner_new", "__is_first", "__first_new",
                    "__base")


# ---------------------------------------------------------------------------
# combined timeline pass (pipeline hot path): ONE clustering shuffle
# ---------------------------------------------------------------------------

def chunked_timeline_features(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    lag_cols: Sequence[str],
    lags: Sequence[int],
    rolling_aggs: Dict[str, Sequence[str]],
    rolling_window_s: float,
    bucket_seconds: float = 7 * 86400.0,
) -> DataFrame:
    """Lags + trailing rolling aggregates in ONE clustered pass: a
    single full-frame shuffle (including the rolling context rows) and
    one per-(entity, bucket) summary for the lag carries.  Three window
    specs — the rolling range, the summary's per-entity prefix, the
    lags' per-bucket order — and one window operator each.  Values are
    bit-identical to ``windows.rolling_aggregates`` + ``with_lags``;
    the entity column comes first."""
    clustered = _clustered_with_context(df, entity_col, ts_col,
                                        bucket_seconds, rolling_window_s)
    # rolling first — the only op that needs the context rows
    w = _range_window(entity_col, rolling_window_s)
    rolled = clustered.select(
        "*", *_rolling_exprs(rolling_aggs, rolling_window_s, w))
    # no persist: the summary branch and the join's big side each
    # re-evaluate ``df`` (their exchanges differ, so neither is reused),
    # which a caller with an expensive input avoids by materializing it
    # (pipeline.assemble_training_frame)
    real = rolled.filter(F.col(_CTX) == 0).drop(_CTX, _US)
    return _with_lags(real, entity_col, ts_col, list(lag_cols), lags)


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------

def chunked_asof_join(
    labels: DataFrame,
    features: DataFrame,
    on: str = "entity_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: Optional[Sequence[str]] = None,
    tolerance_seconds: Optional[float] = None,
    strict: bool = False,
    suffix: str = "",
    bucket_seconds: float = 7 * 86400.0,
) -> DataFrame:
    """Exact twin of ``asof.asof_join`` (backward) clustered by
    (entity, time-bucket): ONE shuffle of the unioned sides.  The
    unbounded backward lookback is restored by a per-bucket seed — the
    prefix-filled last feature row of all earlier buckets — joined on
    the clustering keys as a COLUMN and coalesced under the running
    last.  The side tagging, the match order (running window and seed
    alike), the tolerance test and the unpacking are ``asof_join``'s
    own (``asof._tag_sides``, ``_ORDER``, ``_drop_stale``, ``_unpack``),
    so the twin holds on feature rows tied on (entity, ts) too, on any
    input layout."""
    unioned, passthrough, vcols, label_rank = _tag_sides(
        labels, {"__v": (features, value_cols)}, on, left_ts, right_ts,
        features_first=not strict)
    clustered = _cluster(
        unioned.withColumn(_B, _bucket_of("__t", bucket_seconds)), "__k")

    # per-bucket last feature struct in the match order — the order the
    # running window uses.  ONE aggregation pass over the clustered
    # frame covers every bucket: max_by ignores rows with a null
    # ordering key, so label-only buckets yield a null __last_v (an
    # earlier two-pass version — feature-row agg + distinct + join —
    # plus an explicit broadcast of the seeds cost 11s of the stage
    # wall at 500k rows, and a broadcast of a per-(entity, bucket)
    # table is wrong at corpus scale anyway; the groupBy and the join
    # below both reuse the (entity, bucket) clustering, so neither
    # moves the big frame again).
    w_b = Window.partitionBy("__k").orderBy(_B)
    seeds = (clustered
             .groupBy("__k", _B)
             .agg(F.max_by("__v", F.when(F.col("__v").isNotNull(),
                                         F.struct(*_ORDER)))
                  .alias("__last_v"))
             .withColumn("__seed_v",
                         F.last("__last_v", ignorenulls=True).over(
                             w_b.rowsBetween(Window.unboundedPreceding, -1)))
             .filter(F.col("__seed_v").isNotNull())
             .select("__k", _B, "__seed_v"))

    with_seed = clustered.join(seeds, ["__k", _B], "left")
    filled = with_seed.select(
        "__k", "__t", "__side", *passthrough,
        F.coalesce(_match(True, "__k", _B), F.col("__seed_v")).alias("__m"),
    ).filter(F.col("__side") == label_rank)
    filled = _drop_stale(filled, tolerance_seconds)
    return _unpack(filled, on, left_ts, passthrough, vcols["__v"], suffix)


def chunked_rolling_corr(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    xcol: str,
    ycol: str,
    window_seconds: float,
    bucket_seconds: float = 7 * 86400.0,
    out_col: str = "roll_corr",
) -> DataFrame:
    """Skew-proof twin of ``windows.rolling_corr``: the six sufficient
    sums ride :func:`chunked_rolling` (clustered by (entity,
    time-bucket), hot entities split across tasks, overlap-context
    rows supply the trailing window across bucket edges), and the same
    closed-form correlation expression as the plain operator turns
    them into bit-identical values."""
    tagged = (df.withColumn("__cx", F.col(xcol).cast("long"))
                .withColumn("__cy", F.col(ycol).cast("long"))
                .withColumn("__cxx", F.col(xcol).cast("long")
                            * F.col(xcol).cast("long"))
                .withColumn("__cyy", F.col(ycol).cast("long")
                            * F.col(ycol).cast("long"))
                .withColumn("__cxy", F.col(xcol).cast("long")
                            * F.col(ycol).cast("long")))
    rolled = chunked_rolling(
        tagged, entity_col, ts_col,
        {"__cx": ["sum", "count"], "__cy": ["sum"], "__cxx": ["sum"],
         "__cyy": ["sum"], "__cxy": ["sum"]},
        window_seconds)
    ws = f"{window_seconds:g}s"
    n = F.col(f"__cx_roll_count_{ws}")
    nd = n.cast("double")
    sx = F.col(f"__cx_roll_sum_{ws}").cast("double")
    sy = F.col(f"__cy_roll_sum_{ws}").cast("double")
    sxx = F.col(f"__cxx_roll_sum_{ws}").cast("double")
    syy = F.col(f"__cyy_roll_sum_{ws}").cast("double")
    sxy = F.col(f"__cxy_roll_sum_{ws}").cast("double")
    cov = nd * sxy - sx * sy
    vx = nd * sxx - sx * sx
    vy = nd * syy - sy * sy
    corr = F.when((n >= 2) & (vx > 0) & (vy > 0),
                  cov / (F.sqrt(vx) * F.sqrt(vy)))
    drop = [c for c in rolled.columns if c.startswith("__c")]
    return rolled.withColumn(out_col, corr).drop(*drop)


def chunked_ewma(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    col: str,
    alpha: float = 0.5,
    max_lags: int = 8,
    out_col: Optional[str] = None,
    tie_col: str = "event_id",
    bucket_seconds: float = 7 * 86400.0,
) -> DataFrame:
    """Skew-proof twin of ``windows.ewma``: the K lagged values ride
    :func:`chunked_lags` and the identical fixed-order weighted sum
    turns them into bit-identical EWMAs.

    Tie handling: ``chunked_lags`` orders ties by its value columns,
    so passing ``(tie_col, col)`` makes the effective order
    ``(ts, tie_col, col)`` — identical to the plain operator's
    ``(ts, tie_col)`` whenever ``tie_col`` is unique (which is what a
    tiebreaker column is)."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    out_col = out_col or f"{col}_ewma"
    lags = list(range(1, int(max_lags) + 1))
    lagged = chunked_lags(df, entity_col, ts_col, [tie_col, col],
                          lags=lags, bucket_seconds=bucket_seconds)
    decay = 1.0 - alpha
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k in range(int(max_lags) + 1):
        xk = F.col(col) if k == 0 else F.col(f"{col}_lag{k}")
        wk = F.lit(decay ** k)
        num = num + F.when(xk.isNotNull(),
                           xk.cast("double") * wk).otherwise(0.0)
        den = den + F.when(xk.isNotNull(), wk).otherwise(0.0)
    out = lagged.withColumn(out_col, F.when(den > 0, num / den))
    drop = ([f"{col}_lag{k}" for k in lags]
            + [f"{tie_col}_lag{k}" for k in lags])
    return out.drop(*drop)


def chunked_rolling_quantile(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    col: str,
    q: float = 0.5,
    window_seconds: float = 3600.0,
    bucket_seconds: float = 7 * 86400.0,
    out_col: Optional[str] = None,
) -> DataFrame:
    """Skew-proof twin of ``windows.rolling_quantile``: a trailing
    TIME-RANGE quantile only ever reads rows within ``window_seconds``
    of the current row, so the one-bucket overlap-context duplication
    that makes chunked_rolling exact applies verbatim — ``percentile``
    over the (entity, bucket) clustering with context rows supplying
    the cross-edge history.  (The EXPANDING quantile — winsorize_pit —
    is deliberately NOT chunkable this way: it reads the entity's full
    history, which no bounded context can carry.)"""
    out_col = out_col or f"{col}_roll_q{q:g}"
    clustered = _clustered_with_context(df, entity_col, ts_col,
                                        bucket_seconds, window_seconds)
    out = clustered.withColumn(
        out_col, F.percentile(col, F.lit(float(q))).over(
            _range_window(entity_col, window_seconds)))
    return out.filter(F.col(_CTX) == 0).drop(_CTX, _B, _US)


def chunked_rolling_distinct(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    col: str,
    window_seconds: float,
    bucket_seconds: float = 7 * 86400.0,
    out_col: str = "roll_distinct",
) -> DataFrame:
    """Exact trailing-range COUNT(DISTINCT ``col``) per entity — "how
    many distinct event types did this user touch in the last 7 days".
    Neither Spark nor DuckDB supports a windowed COUNT(DISTINCT), so
    this is a grouped-Arrow kernel on the same (entity, time-bucket)
    clustering + overlap-context recipe as the other chunked rollers:
    one shuffle, hot entities split across tasks, context rows carry
    the cross-edge history.

    The kernel is fully vectorized NumPy (no per-row Python).  With
    rows sorted by event time ``us``, the RANGE frame of row ``i`` is
    the index span ``[j_i, k_i]`` (``searchsorted`` both bounds, so
    same-microsecond peers count like a SQL RANGE frame).  Then

        distinct_i = (k_i − j_i + 1) − pairs_i

    where ``pairs_i`` counts rows in the frame whose PREVIOUS
    same-value occurrence is also in the frame (each value with m
    occurrences contributes m−1 such pairs, collapsing it to one).
    ``pairs_i`` is an interval-stabbing count: pair ``r`` (a row and
    its predecessor ``p_r``) is inside frame ``i`` exactly for
    ``i ∈ [first i with k_i ≥ r, last i with j_i ≤ p_r]`` — both
    endpoints via ``searchsorted`` on the monotone ``k``/``j`` arrays,
    accumulated with a difference array + ``cumsum``.  O(n log n) per
    group, all NumPy."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.types as T

    win_us = seconds_to_micros(window_seconds)
    clustered = _clustered_with_context(df, entity_col, ts_col,
                                        bucket_seconds, window_seconds)

    out_fields = list(df.schema.fields) + [
        T.StructField(out_col, T.LongType(), True)]
    out_schema = T.StructType(out_fields)
    keep = [f.name for f in out_fields]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(columns=keep)
        pdf = pdf.sort_values(_US, kind="mergesort").reset_index(drop=True)
        us = pdf[_US].to_numpy(np.int64)
        vals = pdf[col].to_numpy()
        n = len(pdf)
        j = np.searchsorted(us, us - win_us, side="left")
        k = np.searchsorted(us, us, side="right") - 1
        prev = (pd.Series(np.arange(n)).groupby(vals).shift(1)
                .to_numpy())
        p = np.where(np.isnan(prev), -1, prev).astype(np.int64)
        t1 = np.searchsorted(k, np.arange(n), side="left")
        u = np.searchsorted(j, p, side="right") - 1
        valid = u >= t1
        delta = np.zeros(n + 1, np.int64)
        np.add.at(delta, t1[valid], 1)
        np.add.at(delta, u[valid] + 1, -1)
        pairs = np.cumsum(delta[:n])
        pdf[out_col] = (k - j + 1) - pairs
        return pdf.loc[pdf[_CTX] == 0, keep]

    return clustered.groupBy(entity_col, _B).applyInPandas(kernel,
                                                           out_schema)
