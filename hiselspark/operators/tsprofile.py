"""Per-entity time-series feature bundle (tsfresh-style), one pass.

The standard catalogue features a training pipeline extracts per
series before modeling (Christ et al., "Time Series FeatuRe
Extraction on basis of Scalable Hypothesis tests", Neurocomputing
2018 — the tsfresh catalogue):

* ``abs_energy``        Σ v²                       (exact integer)
* ``mean_abs_change``   Σ|v_{i+1} − v_i| / (n−1)   (one division)
* ``n_peaks``           # strict local maxima (both neighbors lower)
* ``count_above_mean``  # points with v > mean — compared as the
                        EXACT integer test ``v·n > Σv`` (no float
                        mean anywhere)
* ``longest_above``     longest run of consecutive points above the
                        mean (same exact test), via gaps-and-islands
* ``first_max_idx`` / ``last_max_idx``  1-based positions of the
                        series maximum (time order)

Scale shape: ONE entity shuffle does everything — the ordered window
(lag/lead/row_number), the whole-partition totals (sum/count over the
same partitioning, which Spark serves from the already-shuffled
exchange), one groupBy(entity) reduction, and a gaps-and-islands
sub-aggregation for the run length that reuses the same entity
partitioning (Spark's subset-cluster-keys rule: a (entity, run)
grouping reuses an entity-only exchange).  No self-joins, no
per-entity collection.

Determinism: values are integers (cast upstream); every feature
except the final ``mean_abs_change`` division is exact integer
arithmetic, including the above-mean test ``v·n > Σv``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .windows import ts_micros


def ts_profile(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """One row per entity with the catalogue features above.  Series
    order is (``ts_col``, ``order_col``) — the tiebreaker makes every
    lag/lead and index engine-reproducible."""
    t = ts_micros(ts_col).alias("__t")
    base = df.select(
        F.col(entity_col).alias("entity"), t,
        F.col(order_col).cast("long").alias("__o"),
        F.col(value_col).cast("long").alias("v"))
    w_ord = Window.partitionBy("entity").orderBy("__t", "__o")
    w_all = Window.partitionBy("entity")
    # islands keyed by idx − running-count-of-above (NULL key off-run):
    # computed on the SAME ordered window, so the whole operator is a
    # single consumer chain — window → groupBy(entity, run) →
    # groupBy(entity), all served by ONE entity exchange (Spark's
    # subset-cluster-keys rule); no second branch, no self-join
    cur = (base
           .withColumn("idx", F.row_number().over(w_ord))
           .withColumn("prev", F.lag("v").over(w_ord))
           .withColumn("nxt", F.lead("v").over(w_ord))
           .withColumn("s_tot", F.sum("v").over(w_all))
           .withColumn("n_tot", F.count(F.lit(1)).over(w_all))
           .withColumn("v_max", F.max("v").over(w_all))
           .withColumn("above",
                       F.col("v") * F.col("n_tot") > F.col("s_tot")))
    cur = (cur
           .withColumn("__acnt",
                       F.sum(F.when(F.col("above"), 1).otherwise(0))
                       .over(w_ord))
           .withColumn("__grp",
                       F.when(F.col("above"),
                              F.col("idx") - F.col("__acnt"))))
    per_run = (cur.groupBy("entity", "__grp").agg(
        F.count(F.lit(1)).alias("__rows"),
        F.max("n_tot").alias("__n"),
        F.sum(F.col("v") * F.col("v")).alias("__energy"),
        F.sum(F.abs(F.col("v") - F.col("prev"))).alias("__ac"),
        F.sum(F.when((F.col("prev").isNotNull())
                     & (F.col("nxt").isNotNull())
                     & (F.col("v") > F.col("prev"))
                     & (F.col("v") > F.col("nxt")), 1)
              .otherwise(0)).alias("__peaks"),
        F.min(F.when(F.col("v") == F.col("v_max"), F.col("idx")))
         .alias("__fmax"),
        F.max(F.when(F.col("v") == F.col("v_max"), F.col("idx")))
         .alias("__lmax")))
    out = (per_run.groupBy("entity").agg(
        F.max("__n").alias("n"),
        F.sum("__energy").alias("abs_energy"),
        F.sum("__ac").alias("__sum_ac"),
        F.sum("__peaks").alias("n_peaks"),
        F.sum(F.when(F.col("__grp").isNotNull(), F.col("__rows"))
              .otherwise(0)).alias("count_above_mean"),
        F.max(F.when(F.col("__grp").isNotNull(), F.col("__rows")))
         .alias("longest_above"),
        F.min("__fmax").alias("first_max_idx"),
        F.max("__lmax").alias("last_max_idx")))
    mac = (F.when(F.col("n") > 1,
                  F.col("__sum_ac").cast("double")
                  / (F.col("n") - 1).cast("double"))
           .otherwise(F.lit(None).cast("double"))
           .alias("mean_abs_change"))
    return out.select(
        "entity", "n", "abs_energy", mac, "n_peaks",
        "count_above_mean",
        F.coalesce("longest_above", F.lit(0)).alias("longest_above"),
        "first_max_idx", "last_max_idx")


SAX_BREAKPOINTS_4 = (-0.6744897501960817, 0.0, 0.6744897501960817)


def sax_symbols(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
    n_segments: int = 8,
) -> DataFrame:
    """SAX symbolic representation per entity (Lin, Keogh et al.
    2003): the time-ordered integer series is PAA-reduced to
    ``n_segments`` means and each mean's z-score is binned against
    the standard-normal quartile breakpoints into letters a-d —
    the classic discretization that makes series bucketable,
    indexable and joinable (compose with the banded dedup machinery
    for motif mining).

    Returns (entity, n, sax) where ``sax`` is the ``n_segments``-letter
    word (entities with n < n_segments are dropped — a PAA segment
    must own at least one point).

    Determinism: segment boundaries are the exact integer split
    ``seg = (idx−1)·w DIV n``; segment sums/counts and the variance
    numerator ``n·Σv² − S²`` stay exact integers; the z comparison is
    a fixed expression tree on identical doubles in any engine, with
    the constant-series case (variance 0) pinned to z = 0 by an exact
    integer test.  Scale shape: ONE entity exchange — ordered window,
    groupBy(entity, seg) and groupBy(entity) both reuse it via the
    subset-cluster-keys rule.
    """
    if n_segments < 1:
        raise ValueError("n_segments must be >= 1")
    t = ts_micros(ts_col).alias("__t")
    base = df.select(
        F.col(entity_col).alias("entity"), t,
        F.col(order_col).cast("long").alias("__o"),
        F.col(value_col).cast("long").alias("v"))
    w_ord = Window.partitionBy("entity").orderBy("__t", "__o")
    w_all = Window.partitionBy("entity")
    cur = (base
           .withColumn("idx", F.row_number().over(w_ord))
           .withColumn("n", F.count(F.lit(1)).over(w_all))
           .withColumn("s", F.sum("v").over(w_all))
           .withColumn("ssq", F.sum(F.col("v") * F.col("v"))
                       .over(w_all))
           .filter(F.col("n") >= n_segments)
           .withColumn("seg", F.expr(
               f"((idx - 1) * {n_segments}) DIV n")))
    per_seg = (cur.groupBy("entity", "seg").agg(
        F.sum("v").alias("sm"), F.count(F.lit(1)).alias("sc"),
        F.max("n").alias("n"), F.max("s").alias("s"),
        F.max("ssq").alias("ssq")))
    nd = F.col("n").cast("double")
    var_num = F.col("n") * F.col("ssq") - F.col("s") * F.col("s")
    mean = F.col("s").cast("double") / nd
    std = F.sqrt(var_num.cast("double")) / nd
    paa = F.col("sm").cast("double") / F.col("sc").cast("double")
    z = (F.when(var_num == 0, F.lit(0.0))
         .otherwise((paa - mean) / std))
    b1, b2, b3 = SAX_BREAKPOINTS_4
    sym = (F.when(z < F.lit(b1), F.lit("a"))
           .when(z < F.lit(b2), F.lit("b"))
           .when(z < F.lit(b3), F.lit("c"))
           .otherwise(F.lit("d")))
    scored = per_seg.select("entity", "seg", "n", sym.alias("sym"))
    return (scored.groupBy("entity").agg(
        F.max("n").alias("n"),
        F.concat_ws("", F.transform(
            F.array_sort(F.collect_list(F.struct(
                F.col("seg").alias("seg"),
                F.col("sym").alias("sym")))),
            lambda st: st["sym"])).alias("sax")))


def seasonality_strength(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    phase_expr: str = "(epoch_us DIV 3600000000) % 24",
) -> DataFrame:
    """Variance explained by a periodic phase profile (η², the ANOVA
    between-group share): per entity,

        η² = [Σ_p S_p²/n_p − S²/n] / [Σ v² − S²/n]

    over phases p (default: hour of day) — 1 means the value is a pure
    function of the phase (strongly seasonal entity), 0 means the
    hourly profile explains nothing.  The standard "is this entity
    worth a seasonal baseline?" gate in front of
    ``seasonal_baseline``.

    ``phase_expr`` is a SQL expression over ``epoch_us`` (the exact
    integer microsecond timestamp).  Exactness: per-phase sums and
    counts are exact integers; the float phase fold runs in sorted-
    phase order over a ≤ period-size list, and the two divisions are
    one fixed tree.  Constant entities (zero total variance) return
    NULL.  Scale shape: groupBy(entity, phase) partials →
    groupBy(entity) — one entity-clustered shuffle chain.
    """
    base = df.select(
        F.col(entity_col).alias("entity"),
        ts_micros(ts_col).alias("epoch_us"),
        F.col(value_col).cast("long").alias("v"))
    base = base.withColumn("phase", F.expr(phase_expr))
    per = (base.groupBy("entity", "phase").agg(
        F.sum("v").alias("sp"),
        F.count(F.lit(1)).alias("np"),
        F.sum(F.col("v") * F.col("v")).alias("qp")))
    agg = (per.groupBy("entity").agg(
        F.sum("sp").alias("s"),
        F.sum("np").alias("n"),
        F.sum("qp").alias("q"),
        F.array_sort(F.collect_list(F.struct(
            F.col("phase").alias("phase"),
            F.col("sp").alias("sp"),
            F.col("np").alias("np")))).alias("ph")))
    between = F.aggregate(
        "ph", F.lit(0.0),
        lambda acc, p: acc + p["sp"].cast("double")
        * p["sp"].cast("double") / p["np"].cast("double"))
    sn = F.col("s").cast("double")
    nn = F.col("n").cast("double")
    qn = F.col("q").cast("double")
    denom = qn - sn * sn / nn
    eta2 = (F.when(denom == 0, F.lit(None).cast("double"))
            .otherwise((between - sn * sn / nn) / denom))
    return agg.select("entity", "n",
                      F.size("ph").cast("long").alias("n_phases"),
                      eta2.alias("eta2"))


def autocorrelation(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
    lags: tuple = (1, 2, 3),
) -> DataFrame:
    """Per-entity sample autocorrelation function at the given lags —
    the classical estimator

        r_k = Σ_{t=1..n−k} (x_t − x̄)(x_{t+k} − x̄) / Σ_t (x_t − x̄)²

    with the numerator expanded into EXACT integer sufficient sums so
    the only floats are one fixed expression per lag:

        num_k = C_k − x̄·(H_k + T_k) + (n−k)·x̄²

    where C_k = Σ x_t·x_{t+k} (exact int via a lag window), H_k/T_k =
    Σ of the first/last n−k values (exact ints from the totals minus
    the k edge values, taken off the same window), and x̄ = Σx/n is
    the single division.  Denominator = Σx² − (Σx)²/n likewise.  Both
    engines evaluate the identical expression tree → bit-identical
    doubles, and the DuckDB oracle replays it.

    Scale shape: ONE entity shuffle — the ordered lag window and the
    whole-partition totals share the entity exchange, then one
    groupBy(entity).  r_k is NULL when n ≤ k or the series is
    constant.  Returns (entity, n, r_<k>...).
    """
    t = ts_micros(ts_col).alias("__t")
    base = df.select(
        F.col(entity_col).alias("entity"), t,
        F.col(order_col).cast("long").alias("__o"),
        F.col(value_col).cast("long").alias("v"))
    w = Window.partitionBy("entity").orderBy("__t", "__o")
    cur = base.withColumn("idx", F.row_number().over(w))
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("q"),
    ]
    for k in lags:
        cur = cur.withColumn(f"lag{k}", F.lag("v", int(k)).over(w))
        # C_k: products where the lag exists; head/tail edge sums
        aggs.append(F.sum(F.col("v") * F.col(f"lag{k}"))
                    .alias(f"c{k}"))
        aggs.append(F.sum(F.when(F.col(f"lag{k}").isNotNull(),
                                 F.col("v"))).alias(f"tail{k}"))
        aggs.append(F.sum(F.when(F.col(f"lag{k}").isNotNull(),
                                 F.col(f"lag{k}"))).alias(f"head{k}"))
    agg = cur.groupBy("entity").agg(*aggs)

    nn = F.col("n").cast("double")
    xbar = F.col("s").cast("double") / nn
    den = F.col("q").cast("double") - (F.col("s").cast("double")
                                       * F.col("s").cast("double")) / nn
    sel = [F.col("entity"), F.col("n").cast("long").alias("n")]
    for k in lags:
        nk = (F.col("n") - F.lit(int(k))).cast("double")
        num = (F.col(f"c{k}").cast("double")
               - xbar * (F.col(f"head{k}").cast("double")
                         + F.col(f"tail{k}").cast("double"))
               + nk * xbar * xbar)
        sel.append(F.when((F.col("n") > int(k)) & (den > 0),
                          num / den).alias(f"r{k}"))
    return agg.select(*sel)


def hampel_filter(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
    half_window: int = 3,
    n_mads: int = 3,
) -> DataFrame:
    """Hampel outlier filter: flag points more than ``n_mads`` MADs
    from the CENTERED rolling median of ±``half_window`` neighbors —
    the standard offline series-cleaning step (Pearson's rule).

    NOT a point-in-time feature: the centered frame reads future rows
    by construction.  Use it to clean/curate training series before
    feature extraction, never as a serving-time feature (the PIT
    operators in ``windows.py`` are the leakage-free family).

    Exact-integer decision — no floats anywhere: with sorted window
    values, the DOUBLED median ``med2 = lo + hi`` of the middle pair
    is an exact int; deviations ``d_i = |2·x_i − med2|`` are exact
    ints; the doubled median of deviations ``mad2d = d_lo + d_hi``
    is 4·MAD; and with d = 2·|x − med|, mad2d = 4·MAD:

        |x − med| > n_mads·MAD   ⇔   d/2 > n_mads·(mad2d/4)
                                 ⇔   2·d > n_mads·mad2d

    so the flag is an integer comparison — bit-identical in any
    engine, no consistency constant, no interpolation rule to match.

    Scale shape: one entity exchange; the rows-frame buffers
    2·half_window+1 values per row (bounded).  Returns the input keys
    plus (v, med2, mad2d, is_outlier).
    """
    t = ts_micros(ts_col).alias("__t")
    base = df.select(
        F.col(entity_col).alias("entity"), t,
        F.col(order_col).cast("long").alias("__o"),
        F.col(value_col).cast("long").alias("v"))
    w = (Window.partitionBy("entity").orderBy("__t", "__o")
         .rowsBetween(-int(half_window), int(half_window)))
    arr = F.array_sort(F.collect_list("v").over(w))

    def med2_of(sorted_arr):
        n = F.size(sorted_arr)
        lo = F.element_at(sorted_arr,
                          (F.floor((n - 1) / 2) + 1).cast("int"))
        hi = F.element_at(sorted_arr,
                          (F.floor(n / 2) + 1).cast("int"))
        return lo + hi

    cur = base.withColumn("med2", med2_of(arr))
    devs = F.array_sort(F.transform(
        F.collect_list("v").over(w),
        lambda x: F.abs(F.lit(2) * x - F.col("med2"))))
    cur = cur.withColumn("mad2d", med2_of(devs))
    d = F.abs(F.lit(2) * F.col("v") - F.col("med2"))
    flag = (F.lit(2) * d > F.lit(int(n_mads)) * F.col("mad2d"))
    return cur.select(
        "entity", F.col("__t").alias("ts_us"),
        F.col("__o").alias("order_id"), "v", "med2", "mad2d",
        flag.alias("is_outlier"))


def holt_linear(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.5,
) -> DataFrame:
    """Holt's linear (double-exponential) smoothing per entity — the
    level/trend recursion

        l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}

    initialized l_1 = x_1, b_1 = 0, with the one-step-ahead forecast
    l_n + b_n — the seasonal-free baseline forecaster every
    monitoring pipeline runs per metric.

    A recursion is inherently sequential per series, so it is
    evaluated as a LEFT FOLD over the time-ordered value array
    (``F.aggregate`` with a (level, trend) struct accumulator) — the
    same fixed operation order the DuckDB oracle replays with
    ``list_reduce`` over a struct list, giving bit-identical doubles
    (α = β = 0.5 are exact binary fractions, though any fixed float
    works since the op order is pinned).

    Scale shape: one entity exchange; the fold materializes each
    series once inside its group (bounded by per-entity length — the
    same contract as every per-series rank/recursion operator here).
    Returns (entity, n, level, trend, forecast_1).
    """
    t = ts_micros(ts_col).alias("__t")
    base = df.select(
        F.col(entity_col).alias("entity"), t,
        F.col(order_col).cast("long").alias("__o"),
        F.col(value_col).cast("double").alias("v"))
    agg = base.groupBy("entity").agg(
        F.count(F.lit(1)).alias("n"),
        F.array_sort(F.collect_list(F.struct(
            F.col("__t").alias("t"), F.col("__o").alias("o"),
            F.col("v").alias("v")))).alias("series"))
    a = F.lit(float(alpha))
    b = F.lit(float(beta))
    vals = F.transform("series", lambda s: s["v"])
    zero = F.struct(
        F.element_at(vals, 1).alias("l"),
        F.lit(0.0).alias("b"))
    rest = F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0)))

    def step(acc, x):
        new_l = a * x + (F.lit(1.0) - a) * (acc["l"] + acc["b"])
        new_b = b * (new_l - acc["l"]) + (F.lit(1.0) - b) * acc["b"]
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    fin = F.aggregate(rest, zero, step)
    return agg.select(
        "entity", F.col("n").cast("long").alias("n"),
        fin["l"].alias("level"), fin["b"].alias("trend"),
        (fin["l"] + fin["b"]).alias("forecast_1"))


def haar_energy(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
    levels: int = 3,
) -> DataFrame:
    """Per-entity Haar wavelet detail energies — the multi-resolution
    texture features of a time series (is the variance in adjacent-
    sample jitter, hourly swings, or slower structure?), computed in
    EXACT integer arithmetic.

    The UNNORMALIZED Haar detail at level ℓ is the difference of
    adjacent level-(ℓ−1) pair sums; energies are Σ detail².  Working
    on raw integer sums (not the orthonormal √2 scaling) keeps every
    coefficient an exact int64 — the conventional ÷2^ℓ normalization
    is a constant factor per level that a consumer can apply (or a
    SQL oracle replay exactly).  The series is truncated to the
    largest multiple of 2^levels (declared; wavelets need dyadic
    blocks), in time order with the unique ``order_col`` tiebreak.

    Shape: ONE entity exchange — pair indices come from row_number
    parity, each level is a groupBy on (entity, idx DIV 2^ℓ) and the
    chain reuses the entity clustering (subset-cluster-keys rule).
    Returns (entity, n_used, e1..e<levels>) with eℓ the exact integer
    detail energy at level ℓ.
    """
    if levels < 1 or levels > 10:
        raise ValueError("levels must be in [1, 10]")
    t = ts_micros(ts_col).alias("__t")
    base = df.select(
        F.col(entity_col).alias("entity"), t,
        F.col(order_col).cast("long").alias("__o"),
        F.col(value_col).cast("long").alias("v"))
    w = Window.partitionBy("entity").orderBy("__t", "__o")
    w_all = Window.partitionBy("entity")
    blk = 1 << levels
    cur = (base
           .withColumn("idx", F.row_number().over(w) - 1)
           .withColumn("n_tot", F.count(F.lit(1)).over(w_all)))
    cur = (cur
           .withColumn("n_used",
                       (F.col("n_tot") / blk).cast("long") * blk)
           .filter(F.col("idx") < F.col("n_used"))
           .select("entity", "idx", "n_used", F.col("v").alias("s")))
    energies = []
    for lvl in range(1, levels + 1):
        pair = (F.col("idx") / 2).cast("long")
        lv = (cur.groupBy("entity", pair.alias("idx"))
              .agg(F.max("n_used").alias("n_used"),
                   F.sum(F.when(F.col("idx") % 2 == 0, F.col("s")))
                    .alias("a"),
                   F.sum(F.when(F.col("idx") % 2 == 1, F.col("s")))
                    .alias("b")))
        lv = lv.select(
            "entity", "idx", "n_used",
            (F.col("a") + F.col("b")).alias("s"),
            (F.col("a") - F.col("b")).alias("d"))
        energies.append(
            lv.groupBy("entity").agg(
                F.max("n_used").alias("n_used"),
                F.sum(F.col("d") * F.col("d")).alias(f"e{lvl}")))
        cur = lv.select("entity", "idx", "n_used", "s")
    out = energies[0].select("entity", "n_used", "e1")
    for lvl in range(2, levels + 1):
        out = out.join(energies[lvl - 1]
                       .select("entity", f"e{lvl}"), "entity")
    return out


def classical_decompose(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
    phase_col=None,
    half_window: int = 6,
) -> DataFrame:
    """Classical additive decomposition per entity (the STL-shaped
    monitoring view, kept exactly replayable):

        seasonal_t = mean(v | phase(t))          (phase = hour of day)
        trend_t    = centered ±half_window rolling mean of v
        resid_t    = v_t − seasonal_t − trend_t + grand_mean

    Every component is an exact integer sum with ONE division, and the
    residual is one fixed float expression over them — so unlike
    textbook STL (iterated loess on floats, whose summation order is
    partition-dependent) this decomposition is bit-reproducible and a
    SQL engine replays it term for term.  Adding the grand mean back
    keeps the three components' biases from double-counting the level
    (E[seasonal] + E[trend] ≈ 2·mean without it).

    NOT point-in-time: the centered trend window reads future rows —
    this is the offline monitoring/anomaly view; use the PIT windows
    family for serving features.  One entity exchange serves the
    ordered window, the phase aggregation and the whole-series mean
    (subset-cluster-keys rule).  Returns the keys plus
    (v, seasonal, trend, resid).
    """
    t = ts_micros(ts_col).alias("__t")
    base = df.select(
        F.col(entity_col).alias("entity"), t,
        F.col(order_col).cast("long").alias("__o"),
        F.col(value_col).cast("long").alias("v"),
        *([phase_col.alias("phase")] if phase_col is not None else []))
    if phase_col is None:
        # integer hour-of-day off the epoch-micros column (DIV, never
        # float divide-then-floor)
        base = base.withColumn(
            "phase", F.expr("(__t DIV 3600000000) % 24"))
    w_ord = (Window.partitionBy("entity").orderBy("__t", "__o")
             .rowsBetween(-int(half_window), int(half_window)))
    w_all = Window.partitionBy("entity")
    w_ph = Window.partitionBy("entity", "phase")
    cur = (base
           .withColumn("__ts", F.sum("v").over(w_ord))
           .withColumn("__tn", F.count(F.lit(1)).over(w_ord))
           .withColumn("__ps", F.sum("v").over(w_ph))
           .withColumn("__pn", F.count(F.lit(1)).over(w_ph))
           .withColumn("__gs", F.sum("v").over(w_all))
           .withColumn("__gn", F.count(F.lit(1)).over(w_all)))

    def d(c):
        return F.col(c).cast("double")

    seasonal = d("__ps") / d("__pn")
    trend = d("__ts") / d("__tn")
    grand = d("__gs") / d("__gn")
    resid = d("v") - seasonal - trend + grand
    return cur.select(
        "entity", F.col("__t").alias("ts_us"),
        F.col("__o").alias("order_id"), "v", "phase",
        seasonal.alias("seasonal"), trend.alias("trend"),
        resid.alias("resid"))


def seasonal_naive_mase(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    period: int = 7,
    bucket: str = "day",
) -> DataFrame:
    """Backtest of the seasonal-naive forecast (ŷ_t = y_{t−period})
    scored by MASE (Hyndman & Koehler, "Another look at measures of
    forecast accuracy", IJF 2006):

        MASE = mean|y_t − y_{t−period}|  /  mean|y_t − y_{t−1}|

    over the entity's ``bucket``-aggregated series (sum of
    ``value_col`` per bucket, exact integer cents).  MASE < 1 means
    the seasonal-naive beats the in-sample one-step naive — the
    standard scale-free sanity floor every real forecasting model
    must clear.

    Exact by construction: bucket sums, both lag differences and both
    error sums are BIGINT; the single double division happens once
    per entity.  Plan: one (entity, bucket) aggregate + two lags on
    one entity WindowExec + one entity aggregate — two shuffles.
    Entities without at least ``period``+1 buckets (no scored point)
    or a zero denominator (constant series) are dropped.

    Returns (entity, n_scored, sum_abs_err, sum_abs_naive, mase).
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    daily = (df.groupBy(
        F.col(entity_col).alias("e"),
        F.date_trunc(bucket, F.col(ts_col).cast("timestamp"))
        .alias("b"))
        .agg(F.sum(cents).alias("v")))
    w = Window.partitionBy("e").orderBy("b")
    scored = (daily
              .withColumn("lag_s", F.lag("v", int(period)).over(w))
              .withColumn("lag_1", F.lag("v", 1).over(w)))
    per = (scored.groupBy("e").agg(
        F.count("lag_s").alias("n_scored"),
        F.sum(F.when(F.col("lag_s").isNotNull(),
                     F.abs(F.col("v") - F.col("lag_s"))))
        .alias("sum_abs_err"),
        F.count("lag_1").alias("n_diff"),
        F.sum(F.when(F.col("lag_1").isNotNull(),
                     F.abs(F.col("v") - F.col("lag_1"))))
        .alias("sum_abs_naive")))
    mase = ((F.col("sum_abs_err").cast("double")
             / F.col("n_scored").cast("double"))
            / (F.col("sum_abs_naive").cast("double")
               / F.col("n_diff").cast("double")))
    return (per.filter((F.col("n_scored") > 0)
                       & (F.col("sum_abs_naive") > 0))
               .select(F.col("e").alias(entity_col), "n_scored",
                       "sum_abs_err", "sum_abs_naive",
                       mase.alias("mase")))


def ljung_box(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
    max_lag: int = 3,
) -> DataFrame:
    """Ljung–Box portmanteau whiteness test per entity (Ljung & Box
    1978) — "is there ANY autocorrelation left", the standard residual
    diagnostic after detrending/forecasting (pairs with ols_detrend /
    holt_forecast in this engine):

        Q = n·(n+2) · Σ_{k=1..m} r_k² / (n−k),   df = m

    built directly on :func:`autocorrelation`'s exact-sufficient-sum
    r_k columns, so Q is one fixed float expression over them, summed
    in ascending-lag order inside a single expression tree — the same
    one entity shuffle, bit-reproducible, SQL-replayable.  Q is NULL
    when n ≤ m or the series is constant (any r_k NULL).  The χ²_m
    p-value is left to the caller's significance table — the statistic
    and df carry the decision information (the convention anova_f
    follows for the F distribution)."""
    m = int(max_lag)
    if m < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    ac = autocorrelation(df, entity_col, ts_col, order_col,
                         value_col, lags=tuple(range(1, m + 1)))
    nn = F.col("n").cast("double")
    q = F.lit(0.0)
    for k in range(1, m + 1):
        q = q + (F.col(f"r{k}") * F.col(f"r{k}")
                 / (nn - float(k)))
    q_stat = F.when(F.col("n") > m, nn * (nn + 2.0) * q)
    return ac.select("entity", "n", q_stat.alias("q_stat"),
                     F.lit(m).cast("long").alias("df"))


def durbin_watson(df: DataFrame, group_col: str, order_col: str,
                  value_col: str) -> DataFrame:
    """Durbin–Watson first-order autocorrelation statistic of each
    group's series ordered by ``order_col`` (unique within group —
    the engine's timeline convention):

        DW = Σₜ(vₜ − vₜ₋₁)² / Σₜ(vₜ − v̄)²   ∈ [0, 4]

    DW ≈ 2 means no lag-1 autocorrelation, → 0 positive, → 4
    negative.  Mean-centering cancels in the numerator, so with
    integer-quantized ``value_col`` the sufficient statistics
    (n, Σv, Σv², Σ(Δv)²) are ALL exact int64 — one lag window + one
    aggregate — and DW is one mirrored float expression
    num / (Σv² − (Σv)²/n).  NULL when n < 2 or the series is
    constant.  Returns one row per group:
    (group, n, diff_sq_sum, dw)."""
    v = F.col(value_col).cast("long")
    base = (df.filter(v.isNotNull())
              .select(F.col(group_col).alias("grp"),
                      F.col(order_col).alias("__o"),
                      v.alias("__v")))
    # window over the SAME attribute the aggregate groups on, so the
    # groupBy reuses the window's entity exchange (one shuffle total)
    w = Window.partitionBy("grp").orderBy("__o")
    lagv = F.lag(F.col("__v")).over(w)
    d = base.select(
        "grp", "__v",
        F.when(lagv.isNotNull(),
               (F.col("__v") - lagv) * (F.col("__v") - lagv))
        .alias("__d2"))
    agg = d.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__v").alias("sv"),
        F.sum(F.col("__v") * F.col("__v")).alias("ssv"),
        F.coalesce(F.sum("__d2"), F.lit(0)).alias("num"))
    nd = F.col("n").cast("double")
    den = (F.col("ssv").cast("double")
           - F.col("sv").cast("double") * F.col("sv").cast("double")
           / nd)
    dw = F.when((F.col("n") >= 2) & (den > 0.0),
                F.col("num").cast("double") / den)
    return agg.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.col("num").cast("long").alias("diff_sq_sum"),
        dw.alias("dw"))


def runs_test(df: DataFrame, group_col: str, order_col: str,
              value_col: str) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness of each group's series
    around its median, ordered by ``order_col``: values above the
    median map to +1, below to −1, EXACTLY AT the median are dropped
    (the standard convention), and

        R = 1 + Σₜ 1[signₜ ≠ signₜ₋₁],
        μ_R = 2n₁n₂/(n₁+n₂) + 1,
        σ²_R = 2n₁n₂(2n₁n₂−n₁−n₂) / ((n₁+n₂)²(n₁+n₂−1))

    The per-group median comes off the (group, value) COUNT table via
    the doubled-median trick (m2 = lo + hi exact int64 — the
    brown_forsythe/hampel convention, never a row sort), so the
    above/below split 2v ≷ m2 is an exact integer comparison; run and
    sign counts are exact int64 off one lag window; z = (R − μ)/σ is
    the one mirrored float expression.  NULL z when n₁ = 0, n₂ = 0 or
    σ = 0.  ``value_col`` integer-quantized; ``order_col`` unique
    within group.  Returns one row per group:
    (group, n1, n2, runs, z)."""
    v = F.col(value_col).cast("long")
    nn = (df.filter(v.isNotNull())
            .select(F.col(group_col).alias("__g"),
                    F.col(order_col).alias("__o"), v.alias("__v")))
    per_v = nn.groupBy("__g", "__v").agg(F.count(F.lit(1)).alias("t"))
    w_run = (Window.partitionBy("__g").orderBy("__v")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_tot = Window.partitionBy("__g")
    c = (per_v.withColumn("cum", F.sum("t").over(w_run))
              .withColumn("nt", F.sum("t").over(w_tot)))
    lo_pos = (F.col("nt") + 1) - F.expr("nt DIV 2") - 1
    hi_pos = F.expr("nt DIV 2") + 1
    lo = (c.filter(F.col("cum") >= lo_pos)
          .groupBy("__g").agg(F.min("__v").alias("lo")))
    hi = (c.filter(F.col("cum") >= hi_pos)
          .groupBy("__g").agg(F.min("__v").alias("hi")))
    med = lo.join(hi, "__g").select(
        "__g", (F.col("lo") + F.col("hi")).alias("m2"))
    signed = (nn.join(F.broadcast(med), "__g")
                .filter(F.lit(2) * F.col("__v") != F.col("m2"))
                .select("__g", "__o",
                        F.when(F.lit(2) * F.col("__v") > F.col("m2"),
                               F.lit(1)).otherwise(F.lit(-1))
                        .alias("sgn")))
    w_ord = Window.partitionBy("__g").orderBy("__o")
    flips = signed.select(
        "__g", "sgn",
        F.when(F.lag("sgn").over(w_ord).isNotNull()
               & (F.col("sgn") != F.lag("sgn").over(w_ord)),
               F.lit(1)).otherwise(F.lit(0)).alias("flip"))
    # group by the window's own attribute so the aggregate reuses
    # the ordered exchange (the dickey_fuller lesson), rename after
    agg = flips.groupBy("__g").agg(
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0)).alias("n2"),
        (F.sum("flip") + 1).alias("runs")).withColumnRenamed(
        "__g", "grp")
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    nd = n1d + n2d
    mu = F.lit(2.0) * n1d * n2d / nd + F.lit(1.0)
    var = (F.lit(2.0) * n1d * n2d
           * (F.lit(2.0) * n1d * n2d - n1d - n2d)
           / (nd * nd * (nd - F.lit(1.0))))
    z = F.when((F.col("n1") > 0) & (F.col("n2") > 0) & (var > 0.0),
               (F.col("runs").cast("double") - mu) / F.sqrt(var))
    return agg.select(
        "grp",
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("runs").cast("long").alias("runs"),
        z.alias("z"))


def kalman1d(
    df: DataFrame,
    entity_col: str,
    order_col: str,
    value_col: str,
    q_var: float = 1.0,
    r_var: float = 4.0,
) -> DataFrame:
    """Local-level (random-walk + noise) Kalman filter per entity —
    the optimal recursive smoother the holt_linear fold approximates,
    with process variance ``q_var`` and observation variance
    ``r_var``:

        p' = p + q;  K = p'/(p'+r);  m ← m + K·(v − m);  p ← (1−K)·p'

    initialized m₁ = v₁, p₁ = r (the diffuse-ish standard start).  A
    recursion is inherently sequential per series, so it is a LEFT
    FOLD over the time-ordered value array (``F.aggregate`` with an
    (m, p) struct accumulator) — the identical fixed operation order
    the DuckDB oracle replays with ``list_reduce``, bit-identical
    doubles when q/r are exact binary fractions (defaults are).

    Scale shape: one entity exchange; the fold materializes each
    series once inside its group (bounded per-entity length — the
    holt_linear contract).  The steady-state gain converges
    geometrically, so the final (level, p_var, gain) triple is the
    streaming-ready state a `streaming/stateful.py` twin would carry.
    Returns (entity, n, level, p_var, gain)."""
    base = df.select(
        F.col(entity_col).alias("entity"),
        F.col(order_col).cast("long").alias("__o"),
        F.col(value_col).cast("double").alias("v"))
    agg = base.groupBy("entity").agg(
        F.count(F.lit(1)).alias("n"),
        F.array_sort(F.collect_list(F.struct(
            F.col("__o").alias("o"), F.col("v").alias("v"))))
        .alias("series"))
    qv = F.lit(float(q_var))
    rv = F.lit(float(r_var))
    vals = F.transform("series", lambda s: s["v"])
    zero = F.struct(
        F.element_at(vals, 1).alias("m"),
        rv.alias("p"),
        (rv / (rv + rv)).alias("k"))
    rest = F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0)))

    def step(acc, x):
        pp = acc["p"] + qv
        k = pp / (pp + rv)
        new_m = acc["m"] + k * (x - acc["m"])
        new_p = (F.lit(1.0) - k) * pp
        return F.struct(new_m.alias("m"), new_p.alias("p"),
                        k.alias("k"))

    fin = F.aggregate(rest, zero, step)
    return agg.select(
        "entity", F.col("n").cast("long").alias("n"),
        fin["m"].alias("level"), fin["p"].alias("p_var"),
        fin["k"].alias("gain"))


def croston(
    df: DataFrame,
    entity_col: str,
    order_col: str,
    value_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Croston's method (Croston 1972) for INTERMITTENT demand —
    the standard forecaster when most periods are zero (spare parts,
    long-tail SKUs, rare events), where plain exponential smoothing
    systematically lags: smooth the nonzero demand sizes z and the
    inter-demand intervals p separately,

        on demand v at interval gap g:
            z ← α·v + (1−α)·z,   p ← α·g + (1−α)·p
        forecast per period = z / p

    initialized at the first demand with z = v, p = its position.
    One LEFT FOLD per entity over the time-ordered values with a
    (z, p, gap, started) struct accumulator — the same fixed
    operation order the DuckDB oracle replays (α an exact binary
    fraction by default).  The step is BRANCH-FREE: 0/1 indicator
    products (sign(v), started) select the active update instead of
    CASE/WHEN — multiplying by exact 0.0/1.0 keeps every float bit
    identical to the branched form, and DuckDB 1.0.0's list_reduce
    miscomputes multi-branch CASE lambdas over varying-length lists
    (found by this operator's gate; the arithmetic form is correct
    in both engines).  NULL forecast for all-zero series.
    ``value_col`` must be NON-NEGATIVE (sign(v) is the demand
    indicator).  Returns (entity, n, n_demand, z, p, forecast)."""
    base = df.select(
        F.col(entity_col).alias("entity"),
        F.col(order_col).cast("long").alias("__o"),
        F.col(value_col).cast("double").alias("v"))
    agg = base.groupBy("entity").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("v") > 0).cast("long")).alias("n_demand"),
        F.array_sort(F.collect_list(F.struct(
            F.col("__o").alias("o"), F.col("v").alias("v"))))
        .alias("series"))
    a = F.lit(float(alpha))
    vals = F.transform("series", lambda s: s["v"])
    zero = F.struct(F.lit(0.0).alias("z"), F.lit(0.0).alias("p"),
                    F.lit(0.0).alias("g"), F.lit(0.0).alias("s"))

    def step(acc, x):
        i = F.signum(x)
        ni = F.lit(1.0) - i
        s = acc["s"]
        gap = acc["g"] + F.lit(1.0)
        new_z = (i * (F.lit(1.0) - s) * x
                 + i * s * (a * x + (F.lit(1.0) - a) * acc["z"])
                 + ni * acc["z"])
        new_p = (i * (F.lit(1.0) - s) * gap
                 + i * s * (a * gap + (F.lit(1.0) - a) * acc["p"])
                 + ni * acc["p"])
        new_g = ni * gap
        new_s = s + i * (F.lit(1.0) - s)
        return F.struct(new_z.alias("z"), new_p.alias("p"),
                        new_g.alias("g"), new_s.alias("s"))

    fin = F.aggregate(vals, zero, step)
    started = fin["s"] == F.lit(1.0)
    return agg.select(
        "entity", F.col("n").cast("long").alias("n"),
        F.col("n_demand").cast("long").alias("n_demand"),
        F.when(started, fin["z"]).alias("z"),
        F.when(started, fin["p"]).alias("p"),
        F.when(started & (fin["p"] > 0.0), fin["z"] / fin["p"])
         .alias("forecast"))


def dickey_fuller(df: DataFrame, group_col: str, order_col: str,
                  value_col: str) -> DataFrame:
    """Dickey–Fuller unit-root regression per group — the
    stationarity check a feature pipeline runs before differencing:
    OLS of Δvₜ on vₜ₋₁ (with intercept),

        DF = b / se(b),   b = Sxy/Sxx,
        se(b) = √(SSE/(n'−2)/Sxx),  SSE = Syy − b·Sxy

    (centered sums; n' = n−1 usable pairs).  A strongly negative DF
    rejects the unit root (no critical values here by design — the
    engine emits exact statistics).  With integer-quantized values
    every raw sum (n', Σx, Σy, Σxy, Σx², Σy²) is exact int64 off one
    lag window + one aggregate; b/SSE/DF are mirrored float
    expressions.  NULL when n' < 3 or Sxx = 0 or SSE ≤ 0.  Returns
    one row per group: (group, n_pairs, b, df_stat)."""
    v = F.col(value_col).cast("long")
    base = (df.filter(v.isNotNull())
              .select(F.col(group_col).alias("grp"),
                      F.col(order_col).alias("__o"),
                      v.alias("__v")))
    w = Window.partitionBy("grp").orderBy("__o")
    lagv = F.lag(F.col("__v")).over(w)
    d = (base.select("grp", lagv.alias("x"),
                     (F.col("__v") - lagv).alias("y"))
             .filter(F.col("x").isNotNull()))
    agg = d.groupBy("grp").agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    nd = F.col("np").cast("double")
    sxx = (F.col("sxx").cast("double")
           - F.col("sx").cast("double") * F.col("sx").cast("double")
           / nd)
    sxy = (F.col("sxy").cast("double")
           - F.col("sx").cast("double") * F.col("sy").cast("double")
           / nd)
    syy = (F.col("syy").cast("double")
           - F.col("sy").cast("double") * F.col("sy").cast("double")
           / nd)
    b = sxy / sxx
    sse = syy - b * sxy
    ok = (F.col("np") >= 3) & (sxx > 0.0)
    se2 = sse / (nd - 2.0) / sxx
    stat = F.when(ok & (se2 > 0.0), b / F.sqrt(se2))
    return agg.select(
        "grp",
        F.col("np").cast("long").alias("n_pairs"),
        F.when(ok, b).alias("b"),
        stat.alias("df_stat"))


def periodogram_power(df: DataFrame, group_col: str, order_col: str,
                      value_col: str) -> DataFrame:
    """EXACT periodogram power at the two dyadic frequencies whose
    DFT coefficients are 0/±1 — period 2 (Nyquist) and period 4 —
    plus total centered energy for normalization:

        P₂ = (Σ (−1)ᵗ vₜ)²
        P₄ = (Σ cos(πt/2)·vₜ)² + (Σ sin(πt/2)·vₜ)²

    cos/sin at period 4 cycle through {1,0,−1,0} / {0,1,0,−1}, so
    BOTH spectral sums are plain signed integer sums keyed by
    t mod 4 (t = 0-based row_number in ``order_col`` order) — exact
    int64, one window + one aggregate, no trigonometry anywhere.
    The power ratios p2_share = P₂/(n·SS), p4_share = P₄/(n·SS)
    (SS = centered sum of squares) are the mirrored float detectors
    of alternating / period-4 cycles.  NULL shares for constant
    series.  Returns one row per group:
    (group, n, p2, p4, ss2_num, p2_share, p4_share) — ``ss2_num`` is
    the exact n·Σv²−(Σv)² centered-energy numerator."""
    v = F.col(value_col).cast("long")
    base = (df.filter(v.isNotNull())
              .select(F.col(group_col).alias("grp"),
                      F.col(order_col).alias("__o"),
                      v.alias("v")))
    w = Window.partitionBy("grp").orderBy("__o")
    d = base.select(
        "grp", "v", ((F.row_number().over(w) - 1) % 4).alias("m"))
    sgn2 = F.when(F.col("m") % 2 == 0, F.col("v")) \
            .otherwise(-F.col("v"))
    c4 = (F.when(F.col("m") == 0, F.col("v"))
          .when(F.col("m") == 2, -F.col("v")).otherwise(F.lit(0)))
    s4 = (F.when(F.col("m") == 1, F.col("v"))
          .when(F.col("m") == 3, -F.col("v")).otherwise(F.lit(0)))
    agg = d.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.col("v")).alias("ssv"),
        F.sum(sgn2).alias("a2"),
        F.sum(c4).alias("c4"), F.sum(s4).alias("s4"))
    p2 = F.col("a2") * F.col("a2")
    p4 = F.col("c4") * F.col("c4") + F.col("s4") * F.col("s4")
    ssn = (F.col("n") * F.col("ssv")
           - F.col("sv") * F.col("sv"))
    ok = ssn > 0
    nd = F.col("n").cast("double")
    return agg.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        p2.cast("long").alias("p2"),
        p4.cast("long").alias("p4"),
        ssn.cast("long").alias("ss2_num"),
        F.when(ok, p2.cast("double")
               / (ssn.cast("double") / nd)).alias("p2_share"),
        F.when(ok, p4.cast("double")
               / (ssn.cast("double") / nd)).alias("p4_share"))


def variance_ratio(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
    q: int = 4,
) -> DataFrame:
    """Lo–MacKinlay variance-ratio statistic VR(q) per entity — the
    random-walk / mean-reversion diagnostic next to
    :func:`durbin_watson` and :func:`acf`:

        VR(q) = s²_q / (q · s²_1)

    with s²_1 the unbiased sample variance of the 1-step differences
    and s²_q that of the NON-OVERLAPPING... — this implementation
    uses the OVERLAPPING q-step differences v_t − v_{t−q} (the
    standard Lo–MacKinlay estimator's numerator series) with plain
    unbiased variances, the declared simple variant (no bias
    correction factor).  Both difference series come from two lags
    over ONE entity-time WindowExec; every sufficient statistic
    (n, Σd, Σd²) is an exact int64 (value_col integer-valued, cents
    convention; |d|max²·n must stay < 2⁶³ — quantize coarser at
    corpus scale).  VR and the homoscedastic z

        z = (VR − 1) / sqrt(2(2q−1)(q−1) / (3·q·n_q))

    are one mirrored float expression each.  Entities with fewer
    than q+2 rows (either variance undefined) or zero s²_1 yield
    NULL vr/z.  Returns one row per entity:
    (entity, n, n_1, n_q, vr, z)."""
    qq = int(q)
    if qq < 2:
        raise ValueError(f"need q >= 2, got {qq}")
    base = df.select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col).alias("__ts"),
        F.col(order_col).alias("__o"),
        F.col(value_col).cast("long").alias("v"))
    w = Window.partitionBy("entity").orderBy(
        F.col("__ts").asc(), F.col("__o").asc())
    d1 = F.col("v") - F.lag("v", 1).over(w)
    dq = F.col("v") - F.lag("v", qq).over(w)
    stepped = base.select("entity", d1.alias("d1"), dq.alias("dq"))
    agg = stepped.groupBy("entity").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("d1").alias("n1"),
        F.sum("d1").alias("s1"),
        F.sum(F.col("d1") * F.col("d1")).alias("q1"),
        F.count("dq").alias("nq"),
        F.sum("dq").alias("sq"),
        F.sum(F.col("dq") * F.col("dq")).alias("q2"))

    def dd(c):
        return F.col(c).cast("double")

    var1 = ((dd("q1") - dd("s1") * dd("s1") / dd("n1"))
            / (dd("n1") - 1.0))
    varq = ((dd("q2") - dd("sq") * dd("sq") / dd("nq"))
            / (dd("nq") - 1.0))
    ok = (F.col("n1") >= 2) & (F.col("nq") >= 2)
    vr = F.when(ok & (var1 > 0.0), varq / (F.lit(float(qq)) * var1))
    se = F.sqrt(F.lit(2.0 * (2 * qq - 1) * (qq - 1) / (3.0 * qq))
                / dd("nq"))
    z = F.when(ok & (var1 > 0.0) & (F.col("nq") > 0),
               (vr - 1.0) / se)
    return agg.select(
        "entity", F.col("n").cast("long").alias("n"),
        F.col("n1").cast("long").alias("n_1"),
        F.col("nq").cast("long").alias("n_q"),
        vr.alias("vr"), z.alias("z"))


def hurst_rs(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
    sizes=(8, 16, 32, 64),
) -> DataFrame:
    """Rescaled-range Hurst exponent per entity (Hurst 1951; Mandelbrot
    & Wallis 1969) — the long-memory diagnostic completing
    :func:`variance_ratio` (H > 0.5 trending / H < 0.5 mean-reverting):

        H = slope of ln(mean R/S at block size b) on ln(b)

    over dyadic block sizes, applied to the INCREMENT/return series
    (feed returns, not the integrated level — an integrated series
    correctly reads H ≈ 1).  Exactness discipline: within each
    complete size-b block the cumulative deviation is kept as the
    EXACT int64  ncum_k = b·prefix_k − k·S_b  (b·cumdev — the b
    cancels in R/S), so the range R_exact = max−min and the
    denominator  b·Q_b − S_b²  (= b²·variance) are exact integers and

        (R/S)_block = R_exact / sqrt(b·Q_b − S_b²)

    is ONE float expression per block.  Per-size means fold in
    block order, the 4-point ln-ln OLS folds in size order — both
    replayed by the oracle.  Deviations run over k = 1..b (the
    range does not implicitly include 0 — declared).  Incomplete
    trailing blocks are excluded by construction; constant blocks
    (zero variance) are dropped AND counted.  Entities with fewer
    than 2 usable sizes yield NULL hurst; entities too short for
    even one complete block still emit a row with n_sizes =
    n_blocks = n_deg_blocks = 0 and NULL hurst.  value_col integer-valued
    (cents convention; int64 bound: b²·|v|max·n_b per block).
    Returns one row per entity: (entity, n, n_sizes, n_blocks,
    n_deg_blocks, hurst)."""
    sizes = sorted(int(s) for s in sizes)
    if len(sizes) < 2 or sizes[0] < 2:
        raise ValueError(f"need >= 2 sizes, all >= 2, got {sizes}")
    base = df.select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col).alias("__ts"),
        F.col(order_col).alias("__o"),
        F.col(value_col).cast("long").alias("v"))
    w = Window.partitionBy("entity").orderBy(
        F.col("__ts").asc(), F.col("__o").asc())
    base = base.select(
        "entity", F.row_number().over(w).cast("long").alias("i"), "v")
    rows = base.groupBy("entity").agg(F.max("i").alias("n"))
    stepped = base.select(
        "entity", "i", "v",
        F.explode(F.array(*[F.lit(s).cast("long") for s in sizes]))
        .alias("size"))
    stepped = (stepped
               .withColumn("blk", F.expr("(i - 1) DIV size"))
               .withColumn("k", (F.col("i") - 1) % F.col("size") + 1))
    wf = Window.partitionBy("entity", "size", "blk")
    wrun = (wf.orderBy("i")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    stepped = (stepped
               .withColumn("sb", F.sum("v").over(wf))
               .withColumn("pref", F.sum("v").over(wrun))
               .withColumn("ncum", F.col("size") * F.col("pref")
                           - F.col("k") * F.col("sb")))
    blocks = (stepped.groupBy("entity", "size", "blk")
              .agg(F.count(F.lit(1)).alias("cnt"),
                   F.sum("v").alias("s"),
                   F.sum(F.col("v") * F.col("v")).alias("q"),
                   F.max("ncum").alias("mx"),
                   F.min("ncum").alias("mn"))
              .filter(F.col("cnt") == F.col("size"))
              .withColumn("den2", F.col("size") * F.col("q")
                          - F.col("s") * F.col("s")))

    def dd(x):
        return x.cast("double") if not isinstance(x, str) \
            else F.col(x).cast("double")

    per_size = blocks.groupBy("entity", "size").agg(
        F.sum((F.col("den2") > 0).cast("long")).alias("nb"),
        F.sum((F.col("den2") <= 0).cast("long")).alias("ndeg"),
        F.sort_array(F.collect_list(F.when(F.col("den2") > 0, F.struct(
            F.col("blk").alias("blk"),
            (F.col("mx") - F.col("mn")).alias("r"),
            F.col("den2").alias("den2"))))).alias("cells"))
    rs_sum = F.aggregate(
        "cells", F.lit(0.0),
        lambda acc, e: acc + dd(e["r"]) / F.sqrt(dd(e["den2"])))
    per_size = per_size.withColumn(
        "mean_rs", F.when(F.col("nb") > 0, rs_sum / dd("nb")))
    ent = per_size.groupBy("entity").agg(
        F.sum("nb").alias("n_blocks"),
        F.sum("ndeg").alias("n_deg_blocks"),
        F.sort_array(F.collect_list(F.when(
            F.col("mean_rs").isNotNull(),
            F.struct(F.col("size").alias("size"),
                     F.col("mean_rs").alias("mrs"))))).alias("pts"))
    p = F.size("pts").cast("double")
    sx = F.aggregate("pts", F.lit(0.0),
                     lambda acc, e: acc + F.log(dd(e["size"])))
    sy = F.aggregate("pts", F.lit(0.0),
                     lambda acc, e: acc + F.log(e["mrs"]))
    sxy = F.aggregate("pts", F.lit(0.0),
                      lambda acc, e: acc
                      + F.log(dd(e["size"])) * F.log(e["mrs"]))
    sxx = F.aggregate("pts", F.lit(0.0),
                      lambda acc, e: acc
                      + F.log(dd(e["size"])) * F.log(dd(e["size"])))
    den = p * sxx - sx * sx
    hurst = F.when((F.size("pts") >= 2) & (den > 0.0),
                   (p * sxy - sx * sy) / den)
    # entities with no complete block at ANY size (n < min(sizes))
    # never reach `ent`; the left join keeps them with zeroed counts
    # and NULL hurst instead of dropping them from the output
    out = rows.join(ent, "entity", "left")
    return out.select(
        "entity", F.col("n").cast("long").alias("n"),
        F.coalesce(F.size("pts"), F.lit(0)).cast("long")
        .alias("n_sizes"),
        F.coalesce(F.col("n_blocks"), F.lit(0)).cast("long")
        .alias("n_blocks"),
        F.coalesce(F.col("n_deg_blocks"), F.lit(0)).cast("long")
        .alias("n_deg_blocks"),
        hurst.alias("hurst"))


def holt_winters_additive(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
    period: int = 4,
    alpha: float = 0.5,
    beta: float = 0.5,
    gamma: float = 0.5,
) -> DataFrame:
    """Holt–Winters ADDITIVE seasonal smoothing per entity (Winters
    1960) — the seasonal rung above :func:`holt_linear`:

        l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
        s_t = γ(x_t − l_t) + (1−γ)s_{t−m}

    Initialization (declared): after the first m observations,
    l = mean(x_1..x_m) (left-assoc sum, one division), b = 0,
    s_i = x_i − l; the recursion starts at t = m+1.  The m seasonal
    slots are carried as a ROTATING struct (s1 always the seasonal
    the current step consumes; each step shifts s2..sm up and appends
    the fresh one) — pure field moves, no phase CASE, which keeps
    the fold branch-free.  Evaluated as a LEFT FOLD over the
    time-ordered value array with a (l, b, s1..sm) struct
    accumulator; the new-level expression is repeated inline where
    b_t and s_t consume it — the same fixed tree the recursive-CTE
    oracle replays (list_reduce struct-accumulator lambdas are ruled
    out by the documented DuckDB 1.0 defects).  α=β=γ=1/2 defaults
    are exact binary fractions.  Entities with n < m rows are
    dropped (nothing to initialize — declared).  forecast_1 =
    l + b + s_next.  Returns (entity, n, level, trend, s_next,
    forecast_1)."""
    m = int(period)
    if m < 2:
        raise ValueError(f"need period >= 2, got {m}")
    t = ts_micros(ts_col).alias("__t")
    base = df.select(
        F.col(entity_col).alias("entity"), t,
        F.col(order_col).cast("long").alias("__o"),
        F.col(value_col).cast("double").alias("v"))
    agg = (base.groupBy("entity")
           .agg(F.count(F.lit(1)).alias("n"),
                F.array_sort(F.collect_list(F.struct(
                    F.col("__t").alias("t"), F.col("__o").alias("o"),
                    F.col("v").alias("v")))).alias("series"))
           .filter(F.col("n") >= m))
    a = F.lit(float(alpha))
    b = F.lit(float(beta))
    g = F.lit(float(gamma))
    one = F.lit(1.0)
    vals = F.transform("series", lambda s: s["v"])
    l0 = F.element_at(vals, 1)
    for i in range(2, m + 1):
        l0 = l0 + F.element_at(vals, i)
    l0 = l0 / F.lit(float(m))
    sfields = [(F.element_at(vals, i) - l0).alias(f"s{i}")
               for i in range(1, m + 1)]
    zero = F.struct(l0.alias("l"), F.lit(0.0).alias("b"), *sfields)
    rest = F.slice(vals, m + 1, F.greatest(F.size(vals) - m,
                                           F.lit(0)))

    def step(acc, x):
        new_l = a * (x - acc["s1"]) + (one - a) * (acc["l"]
                                                  + acc["b"])
        new_b = b * (new_l - acc["l"]) + (one - b) * acc["b"]
        new_s = g * (x - new_l) + (one - g) * acc["s1"]
        rot = [acc[f"s{i + 1}"].alias(f"s{i}")
               for i in range(1, m)] + [new_s.alias(f"s{m}")]
        return F.struct(new_l.alias("l"), new_b.alias("b"), *rot)

    fin = F.aggregate(rest, zero, step)
    return agg.select(
        "entity", F.col("n").cast("long").alias("n"),
        fin["l"].alias("level"), fin["b"].alias("trend"),
        fin["s1"].alias("s_next"),
        (fin["l"] + fin["b"] + fin["s1"]).alias("forecast_1"))


def pacf3(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Partial autocorrelation at lags 1–3 per entity — the
    AR-order-selection companion of :func:`autocorrelation` (which
    lag carries NEW information once the shorter lags are accounted
    for), by the closed Durbin–Levinson recursion written out:

        φ11 = r1
        φ22 = (r2 − r1²) / (1 − r1²)
        φ21 = r1·(1 − r2) / (1 − r1²)
        φ33 = (r3 − φ21·r2 − φ22·r1)
               / (1 − φ21·r1 − φ22·r2)

    — each φ ONE fixed float expression over autocorrelation's
    bit-reproducible (r1, r2, r3), verified against a brute
    Durbin–Levinson recursion in pytest and against an AR(1)
    ground truth (φ22/φ33 ≈ 0 for AR(1) data).  NULL where the
    parent r's are NULL or a denominator is 0.  Returns
    (entity, n, phi1, phi2, phi3).
    """
    r = autocorrelation(df, entity_col, ts_col, order_col, value_col,
                        lags=(1, 2, 3))
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    one = F.lit(1.0)
    phi1 = r1
    den2 = one - r1 * r1
    phi2 = F.when(r2.isNotNull() & (den2 != 0.0),
                  (r2 - r1 * r1) / den2)
    # Durbin-Levinson level 3: with phi21 = r1·(1−r2)/(1−r1²),
    # phi22 as above: phi33 = (r3 − phi21·r2 − phi22·r1)
    #                         / (1 − phi21·r1 − phi22·r2)
    phi21 = r1 * (one - r2) / den2
    phi22 = (r2 - r1 * r1) / den2
    den3 = one - phi21 * r1 - phi22 * r2
    phi3 = F.when(r3.isNotNull() & (den2 != 0.0) & (den3 != 0.0),
                  (r3 - phi21 * r2 - phi22 * r1) / den3)
    return r.select("entity", "n",
                    phi1.alias("phi1"), phi2.alias("phi2"),
                    phi3.alias("phi3"))
