"""Windowed feature engineering over entity timelines.

All operators are pure built-in window functions (JVM-side, whole-stage
codegen): one hash shuffle on the entity key establishes the
``partitionBy(entity).orderBy(ts)`` clustering and every operator here
reuses it — composing several of them on one DataFrame costs a single
shuffle, which is the property that matters at 100 TB.

Semantics verified against single-node pandas oracles
(``shift``/``ffill``/``bfill``/rolling) and DuckDB window SQL in tests
and in the driver's correctness gate (``__spark_entry__.py``).
"""
from __future__ import annotations

from typing import Dict, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec, functions as F


def entity_window(entity_col: str, ts_col: str,
                  *extra_order) -> WindowSpec:
    return Window.partitionBy(entity_col).orderBy(ts_col, *extra_order)


def ts_seconds(col) -> Column:
    """Timestamp -> epoch seconds as double (microsecond-precise).
    Handles TIMESTAMP_NTZ (how Spark 4 reads parquet timestamps) by
    routing through TIMESTAMP first — with the session pinned to UTC
    the value is the UTC instant either way."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("double")


def ts_micros(col) -> Column:
    """Timestamp -> epoch microseconds as a long: THE order key of the
    point-in-time operators (range windows, buckets, tolerance gaps).

    ``unix_micros`` reads the timestamp's own µs count, so the key is
    exact.  The double route ``(ts_seconds(c) * 1e6).cast(long)`` is
    not: the epoch-seconds double cannot hold every µs fraction, and
    the truncating cast returned the key one µs low for about a quarter
    of µs-fraction timestamps in 2004–2005 (and ~1% elsewhere before
    2007), moving rows across a closed range-window or tolerance edge.
    TIMESTAMP_NTZ goes through TIMESTAMP first, as in
    :func:`ts_seconds`."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def seconds_to_micros(seconds: float) -> int:
    """A seconds parameter (window, tolerance, bucket, horizon) as the
    nearest whole µs: THE bound on the :func:`ts_micros` key.  A
    truncating ``int(seconds * 1_000_000)`` comes out one µs short for
    many fractional values (``int(2.01 * 1_000_000) == 2009999``), which
    drops a row exactly ``seconds`` away.  Whole seconds give the same
    literal either way."""
    return int(round(seconds * 1_000_000))


def with_lags(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    cols: Sequence[str],
    lags: Sequence[int] = (1,),
) -> DataFrame:
    """``{col}_lag{k}`` = value k rows earlier in the entity timeline
    (north-rule 'lag'; pandas oracle ``groupby().shift(k)``).

    Ties in ``ts`` are ordered by the value columns — the same
    deterministic tie rule as ``chunked.chunked_lags``, so the plain
    and skew-proof paths agree row-for-row even on tied timestamps."""
    w = entity_window(entity_col, ts_col, *cols)
    out = df
    for c in cols:
        for k in lags:
            out = out.withColumn(f"{c}_lag{k}", F.lag(c, k).over(w))
    return out


def with_leads(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    cols: Sequence[str],
    leads: Sequence[int] = (1,),
) -> DataFrame:
    """``{col}_lead{k}`` = value k rows later (pandas ``shift(-k)``).
    Tied timestamps ordered by the value columns (see
    :func:`with_lags`)."""
    w = entity_window(entity_col, ts_col, *cols)
    out = df
    for c in cols:
        for k in leads:
            out = out.withColumn(f"{c}_lead{k}", F.lead(c, k).over(w))
    return out


def forward_fill(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    cols: Sequence[str],
    out_suffix: str = "_ffill",
) -> DataFrame:
    """Last non-null value at-or-before each row (pandas ``ffill``)."""
    w = (entity_window(entity_col, ts_col)
         .rowsBetween(Window.unboundedPreceding, 0))
    out = df
    for c in cols:
        out = out.withColumn(f"{c}{out_suffix}",
                             F.last(c, ignorenulls=True).over(w))
    return out


def backward_fill(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    cols: Sequence[str],
    out_suffix: str = "_bfill",
) -> DataFrame:
    """First non-null value at-or-after each row (pandas ``bfill``).

    NOTE: backfill looks into the future — never feed backfilled columns
    into a point-in-time feature vector keyed at ``ts`` (temporal
    leakage); they are for label construction / offline imputation.
    """
    w = (entity_window(entity_col, ts_col)
         .rowsBetween(0, Window.unboundedFollowing))
    out = df
    for c in cols:
        out = out.withColumn(f"{c}{out_suffix}",
                             F.first(c, ignorenulls=True).over(w))
    return out


def sessionize(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    gap_seconds: float = 1800.0,
    session_col: str = "session_id",
) -> DataFrame:
    """Assign 0-based session ids per entity: a new session starts when
    the gap to the previous event exceeds ``gap_seconds`` (30 min
    default per the north rule).  Classic gap-flag cumulative sum —
    two window passes over one clustering, no UDF."""
    w = entity_window(entity_col, ts_col)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    is_new = (
        prev_ts.isNull()
        | ((ts_seconds(ts_col) - ts_seconds(prev_ts))
           > F.lit(float(gap_seconds)))
    ).cast("long")
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    return (df.withColumn("__new_session", is_new)
              .withColumn(session_col,
                          F.sum("__new_session").over(wsum) - 1)
              .drop("__new_session"))


def rolling_aggregates(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    aggs: Dict[str, Sequence[str]],
    window_seconds: float,
    include_current: bool = True,
) -> DataFrame:
    """Trailing time-range aggregates per entity: for each row, aggregate
    rows with ``ts in [row_ts - window_seconds, row_ts]`` (closed), or
    up to 1 microsecond before the current timestamp when
    ``include_current=False`` — the leakage-safe variant for same-row
    targets.

    ``aggs`` maps column -> aggregate names from
    {sum, mean, min, max, count, std}.  Output columns are
    ``{col}_roll_{agg}_{window_seconds:g}s``.
    """
    upper = 0 if include_current else -1  # microseconds
    w = (Window.partitionBy(entity_col)
               .orderBy(ts_micros(ts_col))
               .rangeBetween(-seconds_to_micros(window_seconds), upper))
    fns = {"sum": F.sum, "mean": F.avg, "min": F.min, "max": F.max,
           "count": F.count, "std": F.stddev_samp}
    out = df
    for c, names in aggs.items():
        for name in names:
            out = out.withColumn(
                f"{c}_roll_{name}_{window_seconds:g}s",
                fns[name](c).over(w))
    return out


def rolling_corr(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    xcol: str,
    ycol: str,
    window_seconds: float,
    out_col: str = "roll_corr",
) -> DataFrame:
    """Trailing-range Pearson correlation of two columns per entity:
    for each row, corr over rows with ``ts in [row_ts - window, row_ts]``.

    Computed from the six sufficient sums (n, Σx, Σy, Σx², Σy², Σxy)
    over ONE range window — not six separate passes: Catalyst collapses
    same-frame window expressions into a single WindowExec.  With
    integer inputs every sum is exact, and the closed-form

        (n·Σxy − Σx·Σy) / (√(n·Σx²−Σx²̂) · √(n·Σy²−Σy²̂))

    is the identical double expression tree in any engine — this is
    what makes the result reproducible cross-engine, unlike a built-in
    ``corr`` whose accumulation order is partition-dependent.  NULL
    when fewer than 2 rows or either variance is zero.
    """
    w = (Window.partitionBy(entity_col)
               .orderBy(ts_micros(ts_col))
               .rangeBetween(-seconds_to_micros(window_seconds), 0))
    x, y = F.col(xcol), F.col(ycol)
    n = F.count(F.lit(1)).over(w)
    sx, sy = F.sum(x).over(w), F.sum(y).over(w)
    sxx, syy = F.sum(x * x).over(w), F.sum(y * y).over(w)
    sxy = F.sum(x * y).over(w)
    nd = n.cast("double")
    cov = nd * sxy.cast("double") - sx.cast("double") * sy.cast("double")
    vx = nd * sxx.cast("double") - sx.cast("double") * sx.cast("double")
    vy = nd * syy.cast("double") - sy.cast("double") * sy.cast("double")
    corr = F.when((n >= 2) & (vx > 0) & (vy > 0),
                  cov / (F.sqrt(vx) * F.sqrt(vy)))
    return df.withColumn(out_col, corr)


def rolling_slope(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    col: str,
    window_seconds: float,
    out_col: str = "roll_slope",
) -> DataFrame:
    """Trailing-range least-squares slope of ``col`` against TIME
    (units per second) — the trend feature: fit ``x ~ a + b·t`` over
    the rows in ``[row_ts − window, row_ts]`` and emit ``b``.

    Same exact-sufficient-sums pattern as :func:`rolling_corr`:
    ``b = (n·Σtx − Σt·Σx) / (n·Σt² − (Σt)²)`` with integer sums in
    ONE WindowExec.  Time enters as WHOLE SECONDS relative to the
    entity's first event (an extra unbounded-min over the same
    clustering — no new shuffle): with raw epoch micros, ``Σt²``
    overflows int64 (``(1.7e15)² ≫ 2⁶³``); relative seconds over any
    realistic window keep every sum exact.  Sub-second timestamp
    fractions are truncated for the regressor — at feature-window
    scales (minutes to days) that is far below the noise floor of a
    trend, and exactness of the arithmetic is what buys cross-engine
    reproducibility.  NULL when fewer than 2 rows or zero time
    variance (all rows in the same second)."""
    wfull = (Window.partitionBy(entity_col)
             .orderBy(ts_micros(ts_col))
             .rangeBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing))
    us = ts_micros(ts_col)
    t0 = F.min(us).over(wfull)
    t = ((us - t0) / 1_000_000).cast("long")  # whole relative seconds
    w = (Window.partitionBy(entity_col)
               .orderBy(us)
               .rangeBetween(-seconds_to_micros(window_seconds), 0))
    x = F.col(col)
    n = F.count(F.lit(1)).over(w)
    st = F.sum(t).over(w)
    sx = F.sum(x).over(w)
    stt = F.sum(t * t).over(w)
    stx = F.sum(t * x).over(w)
    nd = n.cast("double")
    num = nd * stx.cast("double") - st.cast("double") * sx.cast("double")
    den = nd * stt.cast("double") - st.cast("double") * st.cast("double")
    return df.withColumn(out_col,
                         F.when((n >= 2) & (den > 0), num / den))


def time_since_event(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    cond: Column,
    id_col: str,
    out_col: str = "since_s",
) -> DataFrame:
    """Seconds since the entity's most recent STRICTLY EARLIER row
    satisfying ``cond`` (e.g. "time since last error") — the classic
    recency feature.  NULL before the first matching row.

    One ``max`` of the condition-gated event time over a rows-frame
    ending at the previous row, on the shared entity clustering (no
    extra shuffle when stacked with the other operators here).  The
    rows-frame needs a total order to be deterministic on tied
    timestamps, so ``id_col`` (a unique id) is a required tiebreaker:
    same-microsecond rows see each other in (ts, id) order.  The
    microsecond difference is exact int64 arithmetic; seconds come from
    one IEEE division by 1e6, identical in any engine."""
    us = ts_micros(ts_col)
    w = (Window.partitionBy(entity_col).orderBy(us, F.col(id_col))
         .rowsBetween(Window.unboundedPreceding, -1))
    last_us = F.max(F.when(cond, us)).over(w)
    return df.withColumn(out_col, (us - last_us) / F.lit(1_000_000.0))


def horizon_lag(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    col: str,
    horizon_seconds: float,
    id_col: str,
    out_col: Optional[str] = None,
) -> DataFrame:
    """Value as of ``ts − horizon`` — the entity's last observation at
    or before the horizon boundary (a time-shifted snapshot feature:
    "what was the price an hour ago").  Leakage-free by construction:
    the range frame ends ``horizon`` BEFORE the current row.

    A backward as-of self-join expressed as ONE window aggregate on the
    shared entity clustering: ``max(struct(us, id, value))`` over
    ``RANGE BETWEEN UNBOUNDED PRECEDING AND horizon_us PRECEDING``
    picks the latest qualifying row, with the unique ``id_col``
    breaking same-microsecond ties deterministically (struct comparison
    is lexicographic in both Spark and DuckDB).  NULL when the entity
    has no observation that old."""
    out_col = out_col or f"{col}_h{int(horizon_seconds)}s"
    us = ts_micros(ts_col)
    w = (Window.partitionBy(entity_col).orderBy(us)
         .rangeBetween(Window.unboundedPreceding,
                       -seconds_to_micros(horizon_seconds)))
    packed = F.max(F.struct(us.alias("us"),
                            F.col(id_col).alias("id"),
                            F.col(col).alias("v"))).over(w)
    return df.withColumn(out_col, packed.getField("v"))


def rolling_moments(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    col: str,
    window_seconds: float,
    skew_col: str = "roll_skew",
    kurt_col: str = "roll_kurt",
) -> DataFrame:
    """Trailing-range skewness and excess kurtosis of an integer-valued
    column — the shape features that flag regime change (asymmetric
    bursts, heavy tails) in an entity's recent history.

    Same exact-sufficient-sums discipline as :func:`rolling_corr`:
    population moments from Σx, Σx², Σx³, Σx⁴ in ONE WindowExec over
    the shared entity clustering.  Σx³ stays in int64 (cents³ ≈ 1e14
    per row), but a SINGLE cents⁴ term can reach 5.8e18 — two rows
    overflow int64 — so Σx³/Σx⁴ accumulate in decimal(38,0) (Spark) /
    HUGEINT (DuckDB oracle): exact at any realistic window size, cast
    to double once at the end (both engines round-to-nearest, so the
    doubles agree bit-for-bit and the downstream expression tree is
    written identically on both sides).

        g1 = (S3/n − 3·m·S2/n + 2·m³) / (m2·sqrt(m2))
        g2 = (S4/n − 4·m·S3/n + 6·m²·S2/n − 3·m⁴) / m2² − 3

    (``m2^1.5`` is spelled ``m2·sqrt(m2)`` because ``pow`` is not
    correctly rounded in every libm, ``sqrt`` is.)  NULL when n < 2 or
    the window has zero variance."""
    us = ts_micros(ts_col)
    w = (Window.partitionBy(entity_col)
               .orderBy(us)
               .rangeBetween(-seconds_to_micros(window_seconds), 0))
    x = F.col(col)
    xd = x.cast("decimal(19,0)")
    n = F.count(F.lit(1)).over(w)
    s1 = F.sum(x).over(w)
    s2 = F.sum(x * x).over(w)
    s3 = F.sum((xd * xd * xd).cast("decimal(38,0)")).over(w)
    s4 = F.sum((xd * xd * xd * xd).cast("decimal(38,0)")).over(w)
    nd = n.cast("double")
    m = s1.cast("double") / nd
    m2 = s2.cast("double") / nd - m * m
    m3 = (s3.cast("double") / nd - F.lit(3.0) * m * (s2.cast("double") / nd)
          + F.lit(2.0) * m * m * m)
    m4 = (s4.cast("double") / nd - F.lit(4.0) * m * (s3.cast("double") / nd)
          + F.lit(6.0) * m * m * (s2.cast("double") / nd)
          - F.lit(3.0) * m * m * m * m)
    ok = (n >= 2) & (m2 > 0)
    return (df
            .withColumn(skew_col, F.when(ok, m3 / (m2 * F.sqrt(m2))))
            .withColumn(kurt_col, F.when(ok, m4 / (m2 * m2) - F.lit(3.0))))


def funnel_steps(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    step_conds: Sequence[Column],
    id_col: str,
    out_prefix: str = "step",
) -> DataFrame:
    """Ordered-funnel analysis: per entity, the earliest event time of
    each step where step k must occur STRICTLY AFTER the entity's
    earliest completion of step k−1 (classic view→click→purchase
    conversion).  Returns one row per entity with ``{prefix}{k}_us``
    (µs, NULL if the funnel stalled before step k) and
    ``funnel_depth`` = number of completed steps.

    Cascaded running-min window expressions over ONE entity clustering:
    ``s₁ = running min(us | cond₁)``; a row qualifies for step k iff
    ``cond_k ∧ us > s_{k−1}`` (strict µs comparison, so same-microsecond
    events never satisfy "after" — tie-order independent), and
    ``s_k`` is the running min of qualifying times.  Each step is a
    window over the previous step's output — same partition and sort,
    so Catalyst stacks them without re-shuffling — and the final
    per-entity aggregation reuses the clustering."""
    us = ts_micros(ts_col)
    w = (Window.partitionBy(entity_col)
         .orderBy(us, F.col(id_col))
         .rowsBetween(Window.unboundedPreceding, 0))
    out = df.withColumn("__us", us)
    prev = None
    names = []
    for k, cond in enumerate(step_conds, start=1):
        name = f"{out_prefix}{k}_us"
        if prev is None:
            qual = F.when(cond, F.col("__us"))
        else:
            qual = F.when(cond & (F.col("__us") > F.col(prev)),
                          F.col("__us"))
        out = out.withColumn(name, F.min(qual).over(w))
        prev = name
        names.append(name)
    agg = out.groupBy(entity_col).agg(
        *[F.min(n).alias(n) for n in names])
    depth = sum((F.col(n).isNotNull().cast("int") for n in names),
                F.lit(0))
    return agg.withColumn("funnel_depth", depth)


def rolling_distinct(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    col: str,
    window_seconds: float,
    id_col: str,
    out_col: str = "roll_distinct",
) -> DataFrame:
    """Exact trailing-range COUNT(DISTINCT ``col``) per entity, as pure
    JVM window expressions — no engine has a windowed COUNT(DISTINCT),
    but it decomposes relationally:

        distinct(t) = #rows in [t−Δ, t] − #pairs inside [t−Δ, t]

    where a "pair" links a row to its PREVIOUS same-value occurrence
    (a value with m occurrences in the window contributes m−1 pairs,
    collapsing it to one).  A pair ``(prev_us, us)`` lies inside the
    anchor window **iff** ``t ∈ [us, prev_us + Δ]`` — so each pair
    becomes a +1 delta event at ``us`` and a −1 at ``prev_us + Δ + 1``,
    and ``pairs(t)`` is a running sum over the per-entity time-ordered
    union of anchors and delta events.  Two hash shuffles total: one on
    ``(entity, value)`` for the previous-occurrence lag, one on
    ``(entity)`` for the running/count windows (the union's exchange is
    shared).  Whole-stage codegen throughout; RANGE frames give SQL tie
    semantics (same-microsecond peers count).  The skew-proof Arrow-
    kernel twin is ``chunked.chunked_rolling_distinct`` (same oracle).
    """
    win = seconds_to_micros(window_seconds)
    us = ts_micros(ts_col)
    wv = (Window.partitionBy(entity_col, col)
          .orderBy(us, F.col(id_col)))
    base = (df.withColumn("__us", us)
              .withColumn("__pus", F.lag(us, 1).over(wv)))
    pair = base.filter(F.col("__pus").isNotNull()
                       & (F.col("__us") - F.col("__pus") <= win))
    starts = pair.select(F.col(entity_col).alias("__e"),
                         F.col("__us").alias("__etime"),
                         F.lit(1).alias("__d"))
    ends = pair.select(F.col(entity_col).alias("__e"),
                       (F.col("__pus") + win + 1).alias("__etime"),
                       F.lit(-1).alias("__d"))
    anchors = base.drop("__pus").withColumn("__d", F.lit(0))
    deltas = starts.unionByName(ends).withColumnRenamed("__e", entity_col)
    for c in anchors.columns:
        if c not in deltas.columns:
            deltas = deltas.withColumn(
                c, F.lit(None).cast(anchors.schema[c].dataType))
    deltas = (deltas.withColumn("__us", F.col("__etime"))
              .select(*anchors.columns))
    unioned = anchors.unionByName(deltas)
    wrun = (Window.partitionBy(entity_col).orderBy("__us")
            .rangeBetween(Window.unboundedPreceding, 0))
    wcnt = (Window.partitionBy(entity_col).orderBy("__us")
            .rangeBetween(-win, 0))
    out = (unioned
           .withColumn("__pairs", F.sum("__d").over(wrun))
           .withColumn("__cnt",
                       F.count(F.when(F.col("__d") == 0, 1)).over(wcnt))
           .filter(F.col("__d") == 0)
           .withColumn(out_col, F.col("__cnt") - F.col("__pairs")))
    return out.drop("__us", "__d", "__pairs", "__cnt")


def rolling_twap(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    col: str,
    window_seconds: float,
    id_col: str,
    out_col: str = "roll_twap",
) -> DataFrame:
    """Holding-time-weighted trailing mean (TWAP): each observation in
    the closed interval ``[t − window, t]`` (the module-wide
    ``rangeBetween(-window, 0)`` convention, same as
    :func:`rolling_aggregates`) is weighted by how long it remained the
    entity's current value (µs until the next observation).  A plain
    rolling mean over-weights bursts of rapid updates; the TWAP is the
    time-integral of the piecewise-constant signal divided by elapsed
    time — the standard de-biasing for irregularly sampled timelines.

    One ``lead`` for the holding duration plus two range-window sums,
    all on the shared entity clustering.  Exact int64 arithmetic:
    Σ duration within a window is bounded by the window span itself
    (≤ window_µs per overlapping segment chain), so Σ(dur·x) ≤
    window_µs · max|x| — far inside int64 for any realistic window.
    Semantics notes: an entity's LAST observation has no holding time
    yet and carries zero weight; a segment straddling the anchor ``t``
    counts with its full duration (windowing is by observation time,
    not clipped integration — documented, exact, cross-engine).  NULL
    when the window holds no completed segment.  Ties at the same
    microsecond get zero duration via the ``(us, id)`` lead order."""
    us = ts_micros(ts_col)
    wl = Window.partitionBy(entity_col).orderBy(us, F.col(id_col))
    dur = F.lead(us, 1).over(wl) - us
    w = (Window.partitionBy(entity_col)
               .orderBy(us)
               .rangeBetween(-seconds_to_micros(window_seconds), 0))
    x = F.col(col)
    tagged = df.withColumn("__dur", dur)
    sw = F.sum(F.col("__dur")).over(w)
    swx = F.sum(F.col("__dur") * x).over(w)
    return (tagged.withColumn(
                out_col,
                F.when(sw > 0, swx.cast("double") / sw.cast("double")))
            .drop("__dur"))


def cross_sectional_features(
    df: DataFrame,
    ts_col: str,
    col: str,
    bucket: str = "day",
    rank_col: str = "cs_rank",
    pct_col: str = "cs_pct",
    z_col: str = "cs_z",
) -> DataFrame:
    """Peer-relative features: each row's competition rank, percentile
    and z-score of ``col`` against ALL rows in the same ``bucket``
    (``date_trunc`` unit) — "how does this entity compare to everyone
    else today", the cross-sectional axis the per-entity operators
    can't see.

    Scale shape: a naive ``Window.partitionBy(bucket).orderBy(col)``
    puts an entire bucket (one day of a 100-TB corpus) in ONE task.
    Instead: ``groupBy(bucket, col)`` counts (map-side combined, one
    row per distinct value), a prefix-sum window over that SMALL frame
    (cardinality = distinct values per bucket, not rows), and a join
    back on ``(bucket, col)`` — AQE broadcasts the aggregate when it
    fits.  Rank/percentile arithmetic is exact integers:

        rank = 1 + #{rows in bucket with value < x}
        pct  = #{< x} / (n − 1)            (NULL when n == 1)
        z    = (x − S1/n) / sqrt(S2/n − (S1/n)²)   (NULL when var 0)

    z comes from exact integer sums over an integer-valued ``col``
    (identical expression tree cross-engine, same discipline as
    :func:`rolling_corr`)."""
    b = F.date_trunc(bucket, F.col(ts_col).cast("timestamp"))
    x = F.col(col)
    agg = (df.groupBy(b.alias("__b"), x.alias("__x"))
             .agg(F.count(F.lit(1)).alias("__c")))
    wless = (Window.partitionBy("__b").orderBy("__x")
             .rowsBetween(Window.unboundedPreceding, -1))
    wall = (Window.partitionBy("__b")
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    xd = F.col("__x")
    stats = agg.select(
        "__b", "__x",
        F.coalesce(F.sum("__c").over(wless), F.lit(0)).alias("__less"),
        F.sum("__c").over(wall).alias("__n"),
        F.sum(xd * F.col("__c")).over(wall).alias("__s1"),
        F.sum(xd * xd * F.col("__c")).over(wall).alias("__s2"),
    )
    nd = F.col("__n").cast("double")
    mu = F.col("__s1").cast("double") / nd
    var = F.col("__s2").cast("double") / nd - mu * mu
    enriched = stats.select(
        "__b", "__x",
        (F.col("__less") + 1).alias(rank_col),
        F.when(F.col("__n") > 1,
               F.col("__less").cast("double")
               / (F.col("__n") - 1).cast("double")).alias(pct_col),
        F.when(var > 0,
               (F.col("__x").cast("double") - mu) / F.sqrt(var))
         .alias(z_col),
    )
    return df.join(enriched,
                   (b == enriched["__b"]) & (x == enriched["__x"]),
                   "left").drop("__b", "__x")


def ewma(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    col: str,
    alpha: float = 0.5,
    max_lags: int = 8,
    out_col: Optional[str] = None,
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Exponentially weighted moving average over the entity timeline
    (pandas ``ewm(alpha=…, adjust=True)`` on the last ``max_lags+1``
    observations):

        ewma_t = Σ_{k=0..K} (1−α)^k · x_{t−k} / Σ_{k present} (1−α)^k

    Bounded-lag by design: (1−α)^k decays below double noise fast
    (α=0.5 → 2⁻⁴⁰ ≈ 1e-12 at k=40), so a fixed K window is the exact
    answer to working precision while keeping the operator a pure lag
    expression over the ONE entity clustering — no recursion, no UDF,
    chunk-safe at any scale.  Weights and the left-to-right summation
    order are fixed, so any engine writing the same expression gets
    bit-identical doubles (α=0.5 weights are exact binary fractions).

    ``tie_cols`` extends the window order for deterministic results on
    tied timestamps (pass a unique id).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    out_col = out_col or f"{col}_ewma"
    w = entity_window(entity_col, ts_col, *tie_cols)
    decay = 1.0 - alpha
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k in range(int(max_lags) + 1):
        xk = F.col(col) if k == 0 else F.lag(col, k).over(w)
        wk = F.lit(decay ** k)
        num = num + F.when(xk.isNotNull(),
                           xk.cast("double") * wk).otherwise(0.0)
        den = den + F.when(xk.isNotNull(), wk).otherwise(0.0)
    return df.withColumn(out_col,
                         F.when(den > 0, num / den))


def rolling_quantile(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    col: str,
    q: float = 0.5,
    window_seconds: float = 3600.0,
    out_col: Optional[str] = None,
) -> DataFrame:
    """Trailing-range quantile per entity (default: rolling median) via
    ``percentile`` over the same range frame as
    :func:`rolling_aggregates` — linear interpolation at rank
    ``q·(n−1)``, the same rule as DuckDB ``quantile_cont`` and NumPy
    ``quantile``, so integer inputs give cross-engine-identical doubles.

    Quantiles are rank statistics — no sufficient-sums shortcut — so
    the frame buffers the window's rows per entity; that is the same
    cost class as any rank-based window and shares the single entity
    clustering with the rest of the stack."""
    out_col = out_col or f"{col}_roll_q{q:g}"
    w = (Window.partitionBy(entity_col)
               .orderBy(ts_micros(ts_col))
               .rangeBetween(-seconds_to_micros(window_seconds), 0))
    return df.withColumn(out_col,
                         F.percentile(col, F.lit(float(q))).over(w))


def rolling_mad(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    col: str,
    window_seconds: float = 3600.0,
    med_col: str = "roll_med",
    mad_col: str = "roll_mad",
    z_col: str = "robust_z",
    consistency: float = 1.4826,
) -> DataFrame:
    """Trailing-window median absolute deviation and robust z-score —
    the outlier detector that, unlike a mean/stddev z-score, is not
    itself dragged by the outliers it is hunting (50% breakdown point
    vs 0%).

    ``med = median(window)``, ``mad = median(|x - med|)``, robust
    ``z = (x - med) / (consistency · mad)`` (1.4826 ≈ 1/Φ⁻¹(¾) makes
    MAD estimate σ under normality); null where ``mad = 0`` (a
    constant window has no scale to score against).

    Entirely JVM-side: ``array_sort(collect_list)`` over the range
    frame, then median / MAD via higher-order ``transform`` +
    ``element_at`` with q·(n−1) linear interpolation — the same rule
    as DuckDB ``quantile_cont``/``mad`` and NumPy, so integer inputs
    give cross-engine-identical doubles.  Rank statistics buffer the
    window's rows (same cost class as :func:`rolling_quantile`); the
    frame shares the single entity clustering with the rest of the
    stack."""
    w = (Window.partitionBy(entity_col)
               .orderBy(ts_micros(ts_col))
               .rangeBetween(-seconds_to_micros(window_seconds), 0))
    arr = F.array_sort(F.collect_list(F.col(col).cast("double")).over(w))

    def median_of(sorted_arr):
        n = F.size(sorted_arr)
        lo = F.element_at(sorted_arr,
                          (F.floor((n - 1) / 2) + 1).cast("int"))
        hi = F.element_at(sorted_arr,
                          (F.ceil((n - 1) / 2) + 1).cast("int"))
        return (lo + hi) / 2.0

    out = df.withColumn("__arr", arr)
    med = median_of(F.col("__arr"))
    out = out.withColumn(med_col, med)
    devs = F.array_sort(F.transform(
        "__arr", lambda x: F.abs(x - F.col(med_col))))
    out = out.withColumn(mad_col, median_of(devs)).drop("__arr")
    rz = ((F.col(col).cast("double") - F.col(med_col))
          / (F.lit(float(consistency)) * F.col(mad_col)))
    return out.withColumn(
        z_col, F.when(F.col(mad_col) > 0.0, rz))


def rolling_rank(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    col: str,
    window_seconds: float = 3600.0,
    out_col: Optional[str] = None,
) -> DataFrame:
    """Trailing percentile rank: the fraction of the trailing window's
    values that are ≤ the current value (self included, so the result
    lies in (0, 1]).  A distribution-free normalizer — "is this event
    large *for this entity, lately*" — that, unlike a z-score, is
    immune to heavy tails and needs no stationarity assumption.

    Pure JVM: ``collect_list`` over the range frame + higher-order
    ``filter``/``size``.  Exact integer count ratio, so cross-engine
    bit-identical on integer inputs (DuckDB twin:
    ``len(list_filter(l, v -> v <= x)) / len(l)``)."""
    out_col = out_col or f"{col}_roll_rank"
    w = (Window.partitionBy(entity_col)
               .orderBy(ts_micros(ts_col))
               .rangeBetween(-seconds_to_micros(window_seconds), 0))
    arr = F.collect_list(F.col(col)).over(w)
    cur = F.col(col)
    return (df.withColumn("__arr", arr)
              .withColumn(out_col,
                          F.size(F.filter("__arr", lambda v: v <= cur))
                          / F.size("__arr"))
              .drop("__arr"))


def running_drawdown(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    col: str,
    peak_col: str = "run_peak",
    dd_col: str = "drawdown",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Running peak and drawdown per entity: ``peak = max(x) over the
    timeline so far``, ``drawdown = (peak − x) / peak`` (null when
    ``peak ≤ 0`` — a non-positive peak has no meaningful fraction).
    The classic "how far below the best seen so far" degradation
    feature (equity curves, model-quality tracking, SLA burn).

    One unbounded-preceding running ``max`` over the shared entity
    clustering — O(1) state per row, no buffering, exact on integer
    inputs.  Rows-frames are tie-order-sensitive: pass a unique
    ``tiebreak`` (e.g. the event id) when timestamps can collide."""
    w = (entity_window(entity_col, ts_col, *tiebreak)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = df.withColumn(peak_col, F.max(col).over(w))
    frac = ((F.col(peak_col) - F.col(col)) / F.col(peak_col))
    return out.withColumn(
        dd_col, F.when(F.col(peak_col) > 0, frac))


def cusum(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    col: str,
    target: float,
    slack: float = 0.0,
    pos_col: str = "cusum_pos",
    neg_col: str = "cusum_neg",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """One-sided CUSUM change-detection statistics per entity (Page
    1954): ``S⁺ᵢ = max(0, S⁺ᵢ₋₁ + (xᵢ − target − slack))`` and the
    mirrored ``S⁻`` for downward shifts.  The sequential statistic that
    detects a small persistent mean shift far earlier than any
    fixed-window z-score.

    The recursion *looks* inherently sequential, but has a closed
    window form: with prefix sum ``Pᵢ = Σⱼ≤ᵢ (xⱼ − target − slack)``,
    ``S⁺ᵢ = Pᵢ − min(0, P₁..Pᵢ)`` (the 0 is the empty prefix — it
    realizes the ``max(0, ·)`` clamp) — a running sum and a running
    min over the same entity clustering, both O(1)-state
    unbounded-preceding windows, exact on integer inputs (no recursive
    UDF, no state store).  Rows-frames are tie-order-sensitive: pass a
    unique ``tiebreak`` when timestamps can collide."""
    w = (entity_window(entity_col, ts_col, *tiebreak)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    dev_p = F.col(col) - F.lit(target + slack)
    dev_n = F.col(col) - F.lit(target - slack)
    out = (df.withColumn("__pp", F.sum(dev_p).over(w))
             .withColumn("__pn", F.sum(dev_n).over(w)))
    out = (out.withColumn(pos_col,
                          F.col("__pp")
                          - F.least(F.lit(0.0).cast("double"),
                                    F.min("__pp").over(w)))
              .withColumn(neg_col,
                          F.greatest(F.lit(0.0).cast("double"),
                                     F.max("__pn").over(w))
                          - F.col("__pn"))
              .drop("__pp", "__pn"))
    return out


def seasonal_baseline(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    col: str,
    period_hours: int = 168,
    base_col: str = "seasonal_base",
    resid_col: str = "seasonal_resid",
) -> DataFrame:
    """Leakage-free seasonal baseline: for each row, the expanding
    mean of ``col`` over the entity's *earlier* rows that fall in the
    same phase of a repeating cycle (default 168 h = hour-of-week),
    plus the residual ``x − baseline`` — "is this high *for a Tuesday
    9am*", the deseasonalized feature every traffic/spend timeline
    needs before any anomaly logic.

    Phase is pure epoch arithmetic (``floor(us/3600e6) mod period``,
    no calendar functions — engines agree exactly); the strictly-before
    frame (RANGE ... 1 PRECEDING on microseconds) is the same
    point-in-time discipline as ``encoding.target_encode_pit``: rows at
    the identical timestamp are mutually invisible.  One shuffle on
    ``(entity, phase)``; exact integer sums/counts.  First occurrence
    of a phase has no baseline (NULL), by design."""
    us = ts_micros(ts_col)
    d = df.withColumn("__us", us).withColumn(
        "__phase",
        F.pmod(F.floor(F.col("__us") / 3_600_000_000), period_hours)
         .cast("long"))
    w = (Window.partitionBy(entity_col, "__phase").orderBy("__us")
               .rangeBetween(Window.unboundedPreceding, -1))
    base = F.sum(col).over(w) / F.count(col).over(w)
    return (d.withColumn(base_col, base)
             .withColumn(resid_col, F.col(col) - F.col(base_col))
             .drop("__us", "__phase"))


def expanding_ols_resid(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    x_col: str,
    y_col: str,
    pred_col: str = "ols_pred",
    resid_col: str = "ols_resid",
) -> DataFrame:
    """Leakage-free expanding-OLS detrend: fit ``y ~ x`` per entity on
    the rows STRICTLY BEFORE each timestamp and emit the prediction
    and residual at the current row — "is this value above or below
    this entity's own trend, as knowable at decision time".  The PIT
    discipline matches ``encoding.target_encode_pit`` (same-microsecond
    rows mutually invisible); the first two rows of an entity (n < 2)
    and zero-x-variance prefixes get NULL.

    Five expanding integer sums over one strictly-before RANGE frame —
    exact, one entity shuffle shared with the rest of the window
    stack; quantize ``x_col``/``y_col`` upstream (hours, cents) and
    keep Σx², Σxy within 2^53 for cross-engine bit-equality."""
    us = ts_micros(ts_col)
    w = (Window.partitionBy(entity_col).orderBy(us)
               .rangeBetween(Window.unboundedPreceding, -1))
    x = F.col(x_col)
    y = F.col(y_col)
    n = F.count(F.lit(1)).over(w).cast("double")
    sx = F.sum(x).over(w).cast("double")
    sy = F.sum(y).over(w).cast("double")
    sxx = F.sum(x * x).over(w).cast("double")
    sxy = F.sum(x * y).over(w).cast("double")
    vx = sxx - sx * sx / n
    cxy = sxy - sx * sy / n
    slope = cxy / vx
    intercept = (sy - slope * sx) / n
    pred = F.when((n >= 2) & (vx > 0),
                  intercept + slope * x.cast("double"))
    out = df.withColumn(pred_col, pred)
    return out.withColumn(resid_col,
                          y.cast("double") - F.col(pred_col))


def rolling_entropy(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    cat_col: str,
    window_seconds: float = 3600.0,
    categories: Optional[Sequence] = None,
    out_col: str = "roll_entropy",
    max_categories: int = 64,
) -> DataFrame:
    """Shannon entropy of the trailing-window category mix per entity
    — the behavioral-diversity feature (0 = the entity does one thing;
    ln(k) = it does everything equally).  A bot hammering one endpoint
    and an account scanning everything both stand out from the
    mid-entropy mass.

    Requires a BOUNDED category domain: one conditional range-window
    count per category (k window aggregates sharing the one entity
    clustering and ONE WindowExec), then ``−Σ p·ln p`` with the terms
    added in fixed sorted-category order — the identical expression
    tree in SQL, so results are engine-bit-reproducible (counts exact,
    one division per term).  With ``categories=None`` the domain is
    collected (sorted) from the data — a bounded-domain assumption the
    caller is making anyway, enforced by ``max_categories``: the
    fallback collects at most ``max_categories + 1`` distinct values
    and raises ``ValueError`` past the cap instead of pulling an
    unbounded domain to the driver (pass the domain explicitly, or a
    larger cap, for genuinely wide-but-bounded columns)."""
    if categories is None:
        probe = [r[0] for r in
                 df.select(cat_col)
                   .filter(F.col(cat_col).isNotNull()).distinct()
                   .limit(int(max_categories) + 1).collect()]
        if len(probe) > int(max_categories):
            raise ValueError(
                f"rolling_entropy: column {cat_col!r} has more than "
                f"max_categories={int(max_categories)} distinct values"
                " — the k-conditional-counts plan needs a bounded"
                " domain; pass `categories` explicitly or raise the cap")
        categories = probe
    categories = sorted(categories)
    w = (Window.partitionBy(entity_col)
               .orderBy(ts_micros(ts_col))
               .rangeBetween(-seconds_to_micros(window_seconds), 0))
    n = F.count(F.lit(1)).over(w)
    ent = None
    for c in categories:
        cnt = F.sum((F.col(cat_col) == c).cast("long")).over(w)
        p = cnt / n
        term = F.when(cnt > 0, -(p * F.log(p))).otherwise(F.lit(0.0))
        ent = term if ent is None else ent + term
    return df.withColumn(out_col, ent)


def winsorize_pit(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    col: str,
    lower_q: float = 0.05,
    upper_q: float = 0.95,
    out_col: Optional[str] = None,
    strict: bool = True,
    min_history: int = 20,
) -> DataFrame:
    """Leakage-free winsorization: clamp each value to the
    [lower_q, upper_q] quantile band of the SAME entity's history
    STRICTLY BEFORE the row (``strict=True``; the point-in-time twin
    of a fitted outlier clipper — the fitted variant would leak the
    future).  Until ``min_history`` earlier rows exist the value
    passes through unclamped (a 3-row quantile band is noise, and the
    cold-start rule must be explicit, not accidental).

    Quantiles via ``percentile`` over an expanding strictly-before
    range frame — q·(n−1) interpolation, same rule as DuckDB
    ``quantile_cont`` — sharing the one entity clustering.

    Skew note: the EXPANDING frame reads the entity's full history,
    so — unlike the trailing-range ops — no bounded overlap context
    can make a (entity, time-bucket) chunked twin exact; a hot entity
    keeps its timeline in one task here by the semantics of the
    operator itself."""
    out_col = out_col or f"{col}_wins"
    upper = -1 if strict else 0  # microseconds
    w = (Window.partitionBy(entity_col)
               .orderBy(ts_micros(ts_col))
               .rangeBetween(Window.unboundedPreceding, upper))
    lo = F.percentile(col, F.lit(float(lower_q))).over(w)
    hi = F.percentile(col, F.lit(float(upper_q))).over(w)
    n = F.count(col).over(w)
    clamped = F.least(F.greatest(F.col(col).cast("double"), lo), hi)
    return df.withColumn(
        out_col,
        F.when(n >= min_history, clamped)
         .otherwise(F.col(col).cast("double")))


def distinct_so_far(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    item_col: str,
    out_col: str = "n_distinct",
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Running count of DISTINCT ``item_col`` values seen up to and
    including each row in the entity timeline — the classic "novelty"
    feature (how many distinct pages/products/error codes has this
    entity touched so far), leakage-free by construction.

    Window ``COUNT(DISTINCT)`` doesn't exist in any engine; the
    standard exact rewrite is two windows: flag each item's FIRST
    occurrence (``row_number`` over ``(entity, item)``), then a running
    sum of flags over the entity timeline.  Two shuffles — one on
    ``(entity, item)``, one on ``entity`` — both key-partitioned and
    skew-inheriting from the entity key only.  ``tie_cols`` (pass a
    unique id) fixes which of several same-timestamp rows is "first",
    making the per-row value partition-layout-independent.
    """
    wf = (Window.partitionBy(entity_col, item_col)
                .orderBy(ts_col, *tie_cols))
    wr = (entity_window(entity_col, ts_col, *tie_cols)
          .rowsBetween(Window.unboundedPreceding, 0))
    first = (F.row_number().over(wf) == 1).cast("long")
    return (df.withColumn("__first", first)
              .withColumn(out_col, F.sum("__first").over(wr))
              .drop("__first"))


def merge_intervals(
    df: DataFrame,
    entity_col: str,
    start_col: str,
    end_col: str,
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Coalesce overlapping/touching intervals per entity (the classic
    gaps-and-islands reduction): output one row per maximal merged
    interval with its span and member count.  Intervals touch when
    ``next.start <= running_max(end)`` (closed ends).

    Two window passes over one entity clustering — order by
    ``(start, end, *tie_cols)``, flag rows whose start exceeds the
    running max of previous ends, cumulative-sum the flags into island
    ids — then one groupBy.  The same plan family as ``sessionize``
    (this IS sessionize generalized from points to intervals)."""
    w = entity_window(entity_col, start_col, end_col, *tie_cols)
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    is_new = (prev_max_end.isNull()
              | (F.col(start_col) > prev_max_end)).cast("long")
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    return (df.withColumn("__new", is_new)
              .withColumn("__island", F.sum("__new").over(wsum))
              .groupBy(entity_col, "__island")
              .agg(F.min(start_col).alias("island_start"),
                   F.max(end_col).alias("island_end"),
                   F.count(F.lit(1)).alias("n_intervals"))
              .withColumnRenamed("__island", "island_id"))


def tumbling_aggregates(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    aggs: Dict[str, Sequence[str]],
    window_seconds: float,
) -> DataFrame:
    """Fixed (tumbling) time-bucket aggregates per entity: one output
    row per ``(entity, window_start)`` — a plain groupBy over
    ``F.window``, fully parallel."""
    fns = {"sum": F.sum, "mean": F.avg, "min": F.min, "max": F.max,
           "count": F.count, "std": F.stddev_samp}
    exprs = [
        fns[name](c).alias(f"{c}_{name}")
        for c, names in aggs.items() for name in names
    ]
    win = F.window(ts_col, f"{int(window_seconds)} seconds")
    return (df.groupBy(entity_col, win.alias("__w"))
              .agg(*exprs)
              .withColumn("window_start", F.col("__w.start"))
              .withColumn("window_end", F.col("__w.end"))
              .drop("__w"))


def with_calendar_features(
    df: DataFrame,
    ts_col: str,
    prefix: str = "",
    cyclical: bool = True,
) -> DataFrame:
    """Calendar feature basics for the timestamp column: hour of day,
    ISO day-of-week (1=Monday), day of month, weekend flag, and —
    because hour 23 and hour 0 are neighbours, which integer encoding
    hides from distance-based models — the standard cyclical
    ``sin/cos(2π·hour/24)`` and ``sin/cos(2π·(isodow−1)/7)`` pairs.
    Pure JVM expressions, map-only, no shuffle."""
    import math
    ts = F.col(ts_col).cast("timestamp")
    hour = F.hour(ts)
    # Spark dayofweek: 1=Sunday..7=Saturday -> ISO 1=Monday..7=Sunday
    isodow = (F.dayofweek(ts) + 5) % 7 + 1
    out = (df.withColumn(f"{prefix}hour", hour)
             .withColumn(f"{prefix}isodow", isodow)
             .withColumn(f"{prefix}dom", F.dayofmonth(ts))
             .withColumn(f"{prefix}is_weekend",
                         (isodow >= 6).cast("int")))
    if cyclical:
        two_pi = 2.0 * math.pi
        hf = hour.cast("double")
        df_ = (isodow - 1).cast("double")
        out = (out
               .withColumn(f"{prefix}hour_sin",
                           F.sin(hf * (two_pi / 24.0)))
               .withColumn(f"{prefix}hour_cos",
                           F.cos(hf * (two_pi / 24.0)))
               .withColumn(f"{prefix}dow_sin",
                           F.sin(df_ * (two_pi / 7.0)))
               .withColumn(f"{prefix}dow_cos",
                           F.cos(df_ * (two_pi / 7.0))))
    return out


def with_inter_arrival(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    out_col: str = "delta_s",
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Seconds since the entity's previous event (NULL on its first) —
    the most basic activity-rate feature, and the building block for
    burstiness/arrival-rate signals.  One lag over the shared entity
    clustering; microsecond-exact arithmetic."""
    w = entity_window(entity_col, ts_col, *tie_cols)
    us = ts_micros(ts_col)
    prev = F.lag(us).over(w)
    return df.withColumn(
        out_col,
        F.when(prev.isNotNull(),
               (us - prev).cast("double") / 1_000_000.0))


def session_features(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    gap_seconds: float = 1800.0,
    value_col: Optional[str] = None,
) -> DataFrame:
    """One row per (entity, session): duration, event count, bounds,
    and optional value sum — the features models actually consume
    after :func:`sessionize` assigns ids.  The sessionize window and
    the groupBy share the entity clustering: one shuffle total."""
    sess = sessionize(df, entity_col, ts_col, gap_seconds)
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        ((ts_seconds(F.max(ts_col)) - ts_seconds(F.min(ts_col)))
         .alias("duration_s")),
    ]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias(f"{value_col}_sum"))
    return sess.groupBy(entity_col, "session_id").agg(*aggs)


def session_paths(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    state_col: str,
    gap_seconds: float = 1800.0,
    max_len: int = 5,
    min_sessions: int = 1,
    sep: str = ">",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Top session paths: the frequency table of "what do sessions
    look like" — each session reduced to the ordered sequence of its
    first ``max_len`` states (``view>click>purchase``), counted across
    the corpus.  The exploratory companion to :func:`funnel_steps`
    (which checks ONE hypothesized order; this surfaces the orders
    that actually happen).

    :func:`sessionize` assigns sessions on the shared entity
    clustering; the per-session sequence is an aggregated struct list
    SORTED AFTER collection (``sort_array`` on (µs, tiebreak, state) —
    collect order is partition-dependent, the sort makes it exact),
    truncated with ``slice`` and joined — all JVM expressions.  Output
    rows = distinct paths (bounded by statesᵐᵃˣ; realistically tiny);
    counts exact."""
    s = sessionize(df, entity_col, ts_col, gap_seconds)
    us = ts_micros(ts_col)
    key = F.struct(us.alias("us"),
                   *[F.col(c).alias(f"t{i}")
                     for i, c in enumerate(tiebreak)],
                   F.col(state_col).cast("string").alias("s"))
    per = (s.groupBy(entity_col, "session_id")
            .agg(F.sort_array(F.collect_list(key)).alias("__seq")))
    path = F.array_join(
        F.slice(F.transform("__seq", lambda e: e["s"]), 1, max_len),
        sep)
    out = (per.withColumn("path", path)
              .groupBy("path")
              .agg(F.count(F.lit(1)).alias("n_sessions"),
                   F.countDistinct(entity_col).alias("n_entities")))
    return out.filter(F.col("n_sessions") >= int(min_sessions))


def crossover_events(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    fast_col: str,
    slow_col: str,
    up_col: str = "cross_up",
    down_col: str = "cross_down",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Detect crossings of two indicator columns per entity:
    ``cross_up`` = fast moved from ≤ slow to > slow at this row,
    ``cross_down`` = the reverse — the generic "signal line crossed
    its baseline" event detector (MA crossovers, score vs threshold,
    actual vs forecast).  First row per entity: no previous state, no
    event (0).

    One ``lag`` of the sign over the shared entity clustering — pure
    JVM, exact comparisons, composes with the rolling family that
    produces the indicators at no extra shuffle."""
    w = entity_window(entity_col, ts_col, *tiebreak)
    above = (F.col(fast_col) > F.col(slow_col)).cast("int")
    prev = F.lag(above).over(w)
    return (df.withColumn(up_col,
                          ((above == 1) & (prev == 0)).cast("int"))
              .withColumn(down_col,
                          ((above == 0) & (prev == 1)).cast("int"))
              .withColumn(up_col, F.coalesce(up_col, F.lit(0)))
              .withColumn(down_col, F.coalesce(down_col, F.lit(0))))


def sessionize_capped(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    gap_seconds: float = 1800.0,
    cap_seconds: float = 86400.0,
) -> DataFrame:
    """Sessionization with BOTH the inactivity-gap rule and a maximum
    session duration (the GA4-style rule pair): a new session starts
    when the gap from the previous event exceeds ``gap_seconds`` OR
    the time since the CURRENT session's first event would exceed
    ``cap_seconds``.

    The cap makes the rule RECURSIVE (each break depends on the start
    chosen by previous breaks), so unlike :func:`sessionize` it cannot
    be a prefix-sum window — it is evaluated as a left fold over the
    time-ordered event array per entity (the engine's recursion
    contract, same as Holt): integer microsecond comparisons only, no
    floats, so the fold is exactly replayable as a recursive CTE.

    One entity exchange (collect the ordered array) + explode back.
    Returns the input keys + (session_id, session_start_us) per event;
    session ids are 0-based per entity in time order.
    """
    gap_us = seconds_to_micros(gap_seconds)
    cap_us = seconds_to_micros(cap_seconds)
    t = ts_micros(ts_col).alias("__t")
    base = df.select(
        F.col(entity_col).alias("entity"), t,
        F.col(order_col).cast("long").alias("__o"))
    agg = base.groupBy("entity").agg(
        F.array_sort(F.collect_list(F.struct(
            F.col("__t").alias("t"),
            F.col("__o").alias("o")))).alias("series"))

    def step(acc, e):
        first = F.size(acc["rows"]) == 0
        gap_break = e["t"] - acc["last_t"] > F.lit(gap_us)
        cap_break = e["t"] - acc["start_t"] > F.lit(cap_us)
        brk = first | gap_break | cap_break
        sid = F.when(first, F.lit(0).cast("long")) \
               .when(gap_break | cap_break, acc["sid"] + 1) \
               .otherwise(acc["sid"])
        start = F.when(brk, e["t"]).otherwise(acc["start_t"])
        row = F.struct(e["t"].alias("t"), e["o"].alias("o"),
                       sid.alias("sid"), start.alias("start_t"))
        return F.struct(
            e["t"].alias("last_t"), start.alias("start_t"),
            sid.alias("sid"),
            F.concat(acc["rows"], F.array(row)).alias("rows"))

    zero = F.struct(
        F.lit(0).cast("long").alias("last_t"),
        F.lit(0).cast("long").alias("start_t"),
        F.lit(0).cast("long").alias("sid"),
        F.array().cast(
            "array<struct<t:long,o:long,sid:long,start_t:long>>")
        .alias("rows"))
    folded = agg.select(
        "entity",
        F.aggregate("series", zero, step)["rows"].alias("rows"))
    ex = folded.select("entity", F.explode("rows").alias("r"))
    return ex.select(
        "entity", F.col("r.t").alias("ts_us"),
        F.col("r.o").alias("order_id"),
        F.col("r.sid").alias("session_id"),
        F.col("r.start_t").alias("session_start_us"))


def decayed_count(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    halflife_seconds: float,
    weight_col: Optional[str] = None,
    out_col: str = "decayed_count",
) -> DataFrame:
    """Exponentially time-decayed event count (the classic
    "engagement score" PIT feature): at each row,

        s_t = Σ_{prior events i}  w_i · 2^(−(t − t_i) / halflife)

    over the entity's STRICTLY-BEFORE events (``weight_col`` omitted →
    w_i = 1).  Unlike :func:`ewma`'s per-OBSERVATION decay, the decay
    here is in wall-clock time — a burst an hour ago and a burst a
    week ago score very differently at the same event count.

    Exactness contract: contributions older than 40 half-lives are
    below double noise (2⁻⁴⁰ ≈ 9e-13), so the range frame
    ``(t − 40·h, t)`` is the exact answer to working precision — same
    truncation argument as :func:`ewma`, but by TIME, so bursty
    entities lose nothing.  Within the frame the terms are folded in
    ascending-``t_i`` order over the collected timestamp list
    (duplicates included), making the double bit-reproducible and
    SQL-replayable.  One entity-clustered WindowExec on the shared
    shuffle; per-row cost is the in-frame event count (bound the
    frame via ``halflife_seconds`` for hot entities, or compose with
    the chunked twins' bucketing).

    Returns the input plus ``out_col`` (0.0 when no prior events).
    """
    if halflife_seconds <= 0:
        raise ValueError(f"halflife_seconds must be > 0, got "
                         f"{halflife_seconds}")
    us = ts_micros(ts_col)
    horizon = seconds_to_micros(40 * halflife_seconds)
    w = (Window.partitionBy(entity_col).orderBy(us)
               .rangeBetween(-horizon, -1))
    item = us if weight_col is None else F.struct(
        us.alias("u"), F.col(weight_col).cast("double").alias("wt"))
    lst = F.sort_array(F.collect_list(item).over(w))
    hl_us = float(halflife_seconds * 1_000_000)

    def term(x):
        u = x if weight_col is None else x["u"]
        t = F.pow(F.lit(2.0),
                  (u.cast("double") - us.cast("double")) / hl_us)
        return t if weight_col is None else x["wt"] * t

    s = F.aggregate(lst, F.lit(0.0), lambda acc, x: acc + term(x))
    return df.withColumn(out_col, s)


def rolling_vwap(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    price_col: str,
    volume_col: str,
    window_seconds: float,
    out_col: str = "roll_vwap",
) -> DataFrame:
    """Trailing volume-weighted average price over the closed
    interval ``[t − window, t]`` (the module-wide
    ``rangeBetween(-window, 0)`` convention):

        VWAP = Σ pᵢ·vᵢ / Σ vᵢ

    the liquidity-honest companion of :func:`rolling_twap` — TWAP
    de-biases irregular sampling in TIME, VWAP in SIZE.  Both sums
    are exact int64 window aggregates over integer-quantized price
    and volume (Σp·v ≤ n·max_p·max_v — pick cents/units so it stays
    under 2⁶³); the division is the one mirrored float op.  NULL when
    the window's volume is zero.  One entity exchange, two range
    windows on the shared clustering."""
    us = ts_micros(ts_col)
    w = (Window.partitionBy(entity_col)
               .orderBy(us)
               .rangeBetween(-seconds_to_micros(window_seconds), 0))
    p = F.col(price_col).cast("long")
    v = F.col(volume_col).cast("long")
    sv = F.sum(v).over(w)
    spv = F.sum(p * v).over(w)
    return df.withColumn(
        out_col,
        F.when(sv > 0, spv.cast("double") / sv.cast("double")))


def bollinger_bands(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    col: str,
    window_seconds: float,
    n_sigmas: int = 2,
) -> DataFrame:
    """Bollinger %B and band-breach flags over the trailing window
    ``[t − window, t]``: with the window mean m and sample sd s,

        upper/lower = m ± k·s,   %B = (x − m) / (k·s)

    Exactness: (n, Σv, Σv²) are exact int64 window sums, and the
    BREACH FLAGS are decided by the exact INTEGER comparison

        (n·x − Σv)² · (n−1)  >  k² · n · (n·Σv² − (Σv)²)

    (both sides int64 products of exact ints — no float ever enters
    the decision), so a value sitting exactly on a band is classified
    identically by every engine.  ``pct_b`` itself is the one
    mirrored float expression (NULL when s = 0 or n < 2).  Integer k
    keeps k² exact.  Adds ``pct_b``, ``above_upper``, ``below_lower``.
    Overflow: (n·x)²·n bounds the comparison at ~n³·x² — cents with
    hour-scale windows stay far inside int64; re-quantize for wider
    windows (documented)."""
    k = int(n_sigmas)
    us = ts_micros(ts_col)
    w = (Window.partitionBy(entity_col)
               .orderBy(us)
               .rangeBetween(-seconds_to_micros(window_seconds), 0))
    x = F.col(col).cast("long")
    n = F.count(F.lit(1)).over(w)
    sv = F.sum(x).over(w)
    ssv = F.sum(x * x).over(w)
    dev = n * x - sv                      # n·(x − mean), exact
    var_num = n * ssv - sv * sv           # n·(n−1)·s² · ... exact
    lhs = dev * dev * (n - 1)
    rhs = F.lit(k * k) * n * var_num
    nd = n.cast("double")
    s2 = var_num.cast("double") / (nd * (nd - 1.0))
    pct_b = F.when(
        (n >= 2) & (var_num > 0),
        (dev.cast("double") / nd)
        / (F.lit(float(k)) * F.sqrt(s2)))
    return (df.withColumn("pct_b", pct_b)
              .withColumn("above_upper",
                          (dev > 0) & (lhs > rhs) & (n >= 2))
              .withColumn("below_lower",
                          (dev < 0) & (lhs > rhs) & (n >= 2)))


def rolling_rsi(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    col: str,
    window_seconds: float,
    id_col: str,
    out_col: str = "rsi",
) -> DataFrame:
    """Simple (Cutler's) Relative Strength Index over the trailing
    window ``[t − window, t]``:

        RSI = 100 · G / (G + L)

    with G = Σ max(Δv, 0) and L = Σ max(−Δv, 0) over the window's
    lag-1 differences — the classic bounded momentum oscillator
    (Cutler's moving-sum form, not Wilder's recursive smoothing, so
    every sufficient statistic is an EXACT int64 window sum; G+L > 0
    is an exact gate).  Δv uses the (ts, id)-ordered lag within the
    entity (ties broken by ``id_col``); each row's Δ belongs to the
    window containing the LATER observation.  NULL when the window
    has no nonzero move.  Adds ``out_col`` plus exact ``rsi_gain`` /
    ``rsi_loss`` sums."""
    us = ts_micros(ts_col)
    wl = Window.partitionBy(entity_col).orderBy(us, F.col(id_col))
    x = F.col(col).cast("long")
    diff = x - F.lag(x).over(wl)
    gain = F.when(diff > 0, diff).otherwise(F.lit(0))
    loss = F.when(diff < 0, -diff).otherwise(F.lit(0))
    tagged = (df.withColumn("__g", gain).withColumn("__l", loss))
    w = (Window.partitionBy(entity_col)
               .orderBy(us)
               .rangeBetween(-seconds_to_micros(window_seconds), 0))
    sg = F.sum("__g").over(w)
    sl = F.sum("__l").over(w)
    rsi = F.when(sg + sl > 0,
                 F.lit(100.0) * sg.cast("double")
                 / (sg + sl).cast("double"))
    return (tagged
            .withColumn("rsi_gain", sg)
            .withColumn("rsi_loss", sl)
            .withColumn(out_col, rsi)
            .drop("__g", "__l"))


def event_study(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    is_event,
    n_buckets: int = 3,
    bucket_seconds: float = 3600.0,
) -> DataFrame:
    """Event-study curve — the average of an outcome metric in
    relative-time buckets around marked anchor events (promo fired,
    error occurred, model deployed), against the all-rows baseline:

        abnormal(b) = mean(value | offset bucket b) − mean(value)

    for b ∈ [−n_buckets, +n_buckets], offset = observation time −
    anchor time, bucket = floor-division by ``bucket_seconds`` (exact
    integer µs arithmetic; observations within range of SEVERAL
    anchors count once per anchor — the standard stacked-event
    design, documented).  Sufficient statistics (n, Σv per bucket and
    globally) are exact int64; means and the abnormal delta are
    mirrored float expressions.

    Scale shape: one interval join of anchors onto the entity's
    timeline (range-bounded, entity-keyed — never a cross join) +
    one tiny groupBy over 2·n_buckets+1 buckets.  Returns one row
    per bucket: (bucket, n, sum_v, mean_v, abnormal)."""
    us = ts_micros(ts_col)
    bus = seconds_to_micros(bucket_seconds)
    span = int(n_buckets) * bus
    v = F.col(value_col).cast("long")
    flag = is_event if not isinstance(is_event, str) \
        else F.col(is_event)
    base = df.select(F.col(entity_col).alias("__e"),
                     us.alias("__us"), v.alias("__v"),
                     flag.cast("boolean").alias("__f"))
    anchors = (base.filter(F.col("__f"))
               .select(F.col("__e").alias("__ae"),
                       F.col("__us").alias("__aus")))
    joined = base.join(
        anchors,
        (F.col("__e") == F.col("__ae"))
        & (F.col("__us") >= F.col("__aus") - span)
        & (F.col("__us") < F.col("__aus") + span + bus))
    # floor division keeps the bucket exact for negative offsets too
    bucket = F.floor((F.col("__us") - F.col("__aus")).cast("double")
                     / F.lit(float(bus))).cast("long")
    per_b = (joined.withColumn("__b", bucket)
             .groupBy("__b")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("__v").alias("sum_v")))
    glob = base.agg((F.sum("__v").cast("double")
                     / F.count(F.lit(1)).cast("double"))
                    .alias("__gmean"))
    out = per_b.crossJoin(F.broadcast(glob))
    mean_v = F.col("sum_v").cast("double") / F.col("n").cast("double")
    return out.select(
        F.col("__b").cast("long").alias("bucket"),
        F.col("n").cast("long").alias("n"),
        F.col("sum_v").cast("long").alias("sum_v"),
        mean_v.alias("mean_v"),
        (mean_v - F.col("__gmean")).alias("abnormal"))


def growth_accounting(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    period_seconds: float = 86400.0 * 7,
) -> DataFrame:
    """Growth-accounting decomposition of the active-entity count per
    period (the classic DAU/WAU ledger): every period's actives split
    into

    * ``n_new``          first period the entity EVER appeared
    * ``n_retained``     active in the immediately previous period
    * ``n_resurrected``  active before, but not the previous period
    and the period's ``n_churned`` = entities active in the PREVIOUS
    period that did not return this period (attributed to the period
    they went missing).  Identities hold exactly:
    n_active = n_new + n_retained + n_resurrected, and
    n_churned(p) = n_active(p−1) − n_retained(p).

    Period = floor(epoch_µs / period_µs) — exact integer bucketing;
    classification is one lag over the per-(entity, period) distinct
    table (one shuffle), counts exact int64.  Returns one row per
    period: (period, n_active, n_new, n_retained, n_resurrected,
    n_churned)."""
    us = ts_micros(ts_col)
    pus = seconds_to_micros(period_seconds)
    per = (df.select(F.col(entity_col).alias("__e"),
                     us.alias("__us"))
           .select("__e", F.expr(f"__us DIV {pus}").alias("__p"))
           .distinct())
    w = Window.partitionBy("__e").orderBy("__p")
    tagged = (per
              .withColumn("__prev", F.lag("__p").over(w))
              .withColumn("__next", F.lead("__p").over(w)))
    cls = (tagged.withColumn(
        "kind",
        F.when(F.col("__prev").isNull(), F.lit("new"))
         .when(F.col("__prev") == F.col("__p") - 1,
               F.lit("retained"))
         .otherwise(F.lit("resurrected"))))
    act = cls.groupBy(F.col("__p").alias("period")).agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum((F.col("kind") == "new").cast("long")).alias("n_new"),
        F.sum((F.col("kind") == "retained").cast("long"))
         .alias("n_retained"),
        F.sum((F.col("kind") == "resurrected").cast("long"))
         .alias("n_resurrected"))
    churn = (tagged
             .filter(F.col("__next").isNull()
                     | (F.col("__next") > F.col("__p") + 1))
             .groupBy((F.col("__p") + 1).alias("period"))
             .agg(F.count(F.lit(1)).alias("n_churned")))
    out = (act.join(churn, "period", "full_outer")
           .select(F.col("period").cast("long").alias("period"),
                   F.coalesce("n_active", F.lit(0)).cast("long")
                    .alias("n_active"),
                   F.coalesce("n_new", F.lit(0)).cast("long")
                    .alias("n_new"),
                   F.coalesce("n_retained", F.lit(0)).cast("long")
                    .alias("n_retained"),
                   F.coalesce("n_resurrected", F.lit(0)).cast("long")
                    .alias("n_resurrected"),
                   F.coalesce("n_churned", F.lit(0)).cast("long")
                    .alias("n_churned")))
    return out


def cusumsq(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """CUSUM-of-squares scale-shift detector per entity (Brown,
    Durbin & Evans 1975) — the VARIANCE-change companion of
    :func:`cusum`'s mean-shift statistic:

        s_k = Σ_{i≤k} v_i² / Σ_all v_i²  −  k/n

    flags where the cumulative energy runs ahead of/behind the clock.
    Exactness: the deviation is kept cross-multiplied —
    d_k = n·cumsq_k − k·totsq, an exact int64 (per-entity bound
    n²·Σv² < 2⁶³: with cents ≤ ~2·10⁵ and n ≤ ~4000 rows per entity
    that is ~6·10¹⁷ — quantize coarser for longer series), the
    argmax row is the struct-max (|d|, −k) tiebreak (earliest k on
    ties), and the reported statistic max|s| = |d*|/(n·totsq) is ONE
    division.  One entity-keyed window + one aggregate.  Entities
    with totsq = 0 yield NULL stat.  Returns one row per entity:
    (entity, n, k_at_max, cusumsq)."""
    us = ts_micros(ts_col)
    base = df.select(F.col(entity_col).alias("entity"),
                     us.alias("us"),
                     F.col(order_col).cast("long").alias("o"),
                     F.col(value_col).cast("long").alias("v"))
    w = Window.partitionBy("entity").orderBy(
        F.col("us").asc(), F.col("o").asc())
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy("entity")
    t = (base
         .withColumn("k", F.row_number().over(w).cast("long"))
         .withColumn("cumsq", F.sum(F.col("v") * F.col("v"))
                     .over(wrun))
         .withColumn("n", F.count(F.lit(1)).over(wall))
         .withColumn("totsq", F.sum(F.col("v") * F.col("v"))
                     .over(wall)))
    d = F.col("n") * F.col("cumsq") - F.col("k") * F.col("totsq")
    t = t.withColumn("absd", F.abs(d))
    best = (t.groupBy("entity")
            .agg(F.max("n").alias("n"),
                 F.max("totsq").alias("totsq"),
                 F.max(F.struct(F.col("absd").alias("a"),
                                (-F.col("k")).alias("negk")))
                 .alias("b")))
    stat = F.when(
        F.col("totsq") > 0,
        F.col("b")["a"].cast("double")
        / (F.col("n") * F.col("totsq")).cast("double"))
    return best.select(
        "entity", F.col("n").cast("long").alias("n"),
        (-F.col("b")["negk"]).cast("long").alias("k_at_max"),
        stat.alias("cusumsq"))
