"""Robust per-entity trend statistics: Mann-Kendall and Theil-Sen.

The non-parametric trend pair every monitoring/feature pipeline ends
up needing (Mann 1945, Kendall 1975; Theil 1950, Sen 1968): the
Mann-Kendall statistic

    S = Σ_{i<j} sign(v_j − v_i)        (pairs in time order)

with the tie-corrected variance ``18·var(S) = n(n−1)(2n+5) −
Σ_g t_g(t_g−1)(2t_g+5)`` over value tie groups ``t_g``, and the
Theil-Sen slope — the median of all pairwise slopes
``(v_j − v_i)/(t_j − t_i)`` — the classic outlier-robust alternative
to OLS (breakdown point 29%).

Both are pairwise statistics, so they are computed over the TRAILING
``last_k`` observations per entity — the standard monitoring shape
("is this entity trending over its recent window?") and the thing
that makes the operator scale-safe by construction: per entity the
work is a bounded k² regardless of history length, and no pair ever
crosses entities.

Scale shape: one entity shuffle (window row_number to take the
trailing k), one ``collect_list`` per entity (bounded by k), then the
pairwise sums/medians as pure JVM array expressions (``aggregate`` /
``transform`` / ``slice`` — no Python in the loop, no self-join, no
explode back to k² rows).  Output is one row per entity.

Determinism: values are integers (cast upstream), so S and the
variance terms are exact integers; Theil-Sen pair slopes are single
IEEE divisions of exact integers (bit-identical in any engine) and
the median of the sorted slope list uses the explicit
``(lo + hi) / 2`` midpoint so a second engine replays it exactly
rather than through an interpolating quantile with a different
rounding path.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .windows import ts_micros


def _trailing(df: DataFrame, entity_col: str, ts_col: str,
              order_col: str, value_col: str, last_k: int) -> DataFrame:
    """Trailing ``last_k`` rows per entity as ONE sorted struct array
    ``z`` of (t seconds, o tiebreak, v long) — time-ascending, total
    order (t, o)."""
    t = ts_micros(ts_col).alias("__t")
    base = df.select(
        F.col(entity_col).alias("entity"), t,
        F.col(order_col).cast("long").alias("__o"),
        F.col(value_col).cast("long").alias("__v"))
    w = Window.partitionBy("entity").orderBy(
        F.col("__t").desc(), F.col("__o").desc())
    return (base
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= last_k)
            .groupBy("entity")
            .agg(F.array_sort(F.collect_list(F.struct(
                F.col("__t").alias("t"),
                F.col("__o").alias("o"),
                F.col("__v").alias("v")))).alias("z")))


def mann_kendall(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
    last_k: int = 32,
) -> DataFrame:
    """Mann-Kendall trend test per entity over its trailing ``last_k``
    observations: returns (entity, n, s_stat, var18, z) where
    ``s_stat`` and ``var18 = 18·var(S)`` are exact integers and ``z``
    is the continuity-corrected normal score
    ``(S ∓ 1)/sqrt(var18/18)`` (0 when S = 0 or the variance
    degenerates).  ``order_col`` breaks timestamp ties so every engine
    agrees on the pair order."""
    if last_k < 2:
        raise ValueError("last_k must be >= 2")
    arr = _trailing(df, entity_col, ts_col, order_col, value_col,
                    last_k)
    vals = "transform(z, p -> p.v)"
    s_stat = F.expr(f"""
        aggregate(sequence(1, size(z)), 0L, (acc, j) ->
          acc + aggregate(slice({vals}, 1, j - 1), 0L, (a2, x) ->
            a2 + CAST(sign(element_at({vals}, j) - x) AS LONG)))
    """).alias("s_stat")
    # tie term: per distinct value, t(t-1)(2t+5); counts from the
    # sorted value list via a run-length fold
    tie = F.expr(f"""
        aggregate(
          aggregate(array_sort({vals}),
                    struct(CAST(NULL AS LONG) AS prev,
                           CAST(0 AS LONG) AS run,
                           CAST(array() AS ARRAY<LONG>) AS runs),
                    (st, x) -> CASE
                        WHEN st.prev IS NULL THEN
                          struct(x AS prev, 1L AS run, st.runs AS runs)
                        WHEN x = st.prev THEN
                          struct(x AS prev, st.run + 1L AS run,
                                 st.runs AS runs)
                        ELSE struct(x AS prev, 1L AS run,
                                    array_append(st.runs, st.run)
                                      AS runs) END,
                    st -> CASE WHEN st.run > 0
                               THEN array_append(st.runs, st.run)
                               ELSE st.runs END),
          0L, (acc, t) -> acc + t * (t - 1) * (2 * t + 5))
    """).alias("tie18")
    out = arr.select(
        "entity", F.size("z").cast("long").alias("n"), s_stat, tie)
    n = F.col("n")
    var18 = (n * (n - 1) * (2 * n + 5) - F.col("tie18")).alias("var18")
    out = out.select("entity", "n", "s_stat", var18)
    sigma = F.sqrt(F.col("var18").cast("double") / F.lit(18.0))
    z = (F.when((F.col("s_stat") == 0) | (F.col("var18") <= 0),
                F.lit(0.0))
         .otherwise(
             (F.col("s_stat").cast("double")
              - F.signum(F.col("s_stat").cast("double"))) / sigma)
         .alias("z"))
    return out.select("entity", "n", "s_stat", "var18", z)


def theil_sen(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
    last_k: int = 32,
) -> DataFrame:
    """Theil-Sen slope per entity over its trailing ``last_k``
    observations: the median of all pairwise slopes
    ``(v_j − v_i)/(t_j − t_i)`` (pairs with equal timestamps are
    skipped — their slope is undefined).  Returns (entity, n,
    n_pairs, slope); entities with no valid pair get a NULL slope.

    Units: value per SECOND of ``ts_col`` (timestamps are kept as
    exact integer microseconds for ordering; the slope numerator is
    scaled by the exact 10⁶ before the one division).  Every slope is
    one IEEE division of exact integers and the median midpoint is the
    explicit ``(lo + hi)/2`` of the sorted list, so the full result
    replays bit-for-bit in a second engine."""
    if last_k < 2:
        raise ValueError("last_k must be >= 2")
    arr = _trailing(df, entity_col, ts_col, order_col, value_col,
                    last_k)
    slopes = F.expr("""
        array_sort(flatten(transform(sequence(1, size(z)), j ->
          transform(
            filter(slice(z, 1, j - 1),
                   p -> p.t <> element_at(z, j).t),
            p -> CAST(element_at(z, j).v - p.v AS DOUBLE) * 1000000.0
                 / CAST(element_at(z, j).t - p.t AS DOUBLE)))))
    """).alias("s")
    out = arr.select("entity",
                     F.size("z").cast("long").alias("n"), slopes)
    m = F.size("s")
    half = F.floor(m / F.lit(2)).cast("int")
    med = (F.when(m == 0, F.lit(None).cast("double"))
           .when(m % 2 == 1, F.element_at("s", half + F.lit(1)))
           .otherwise((F.element_at("s", half)
                       + F.element_at("s", half + F.lit(1)))
                      / F.lit(2.0))
           .alias("slope"))
    return out.select("entity", "n", m.cast("long").alias("n_pairs"),
                      med)


def changepoint_mean(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Single mean-shift change point per entity (the first step of
    binary segmentation / CUSUM-style offline detection): the split
    ``t`` maximizing the SSE reduction

        gain(t) = S_l²/n_l + S_r²/n_r − S²/n

    over prefixes of the time-ordered integer series (S_* exact
    integer sums; each term is one cast and one IEEE multiply/divide,
    so both engines score every candidate bit-identically; ties →
    smallest t).  Returns (entity, n, split_idx, gain, left_mean,
    right_mean) for entities with n ≥ 2; ``split_idx`` = size of the
    left segment.

    Scale shape: one entity shuffle — an ordered prefix-sum window,
    per-row candidate scores, and a groupBy argmax via struct max.
    No self-joins, no collection.
    """
    t = ts_micros(ts_col).alias("__t")
    base = df.select(
        F.col(entity_col).alias("entity"), t,
        F.col(order_col).cast("long").alias("__o"),
        F.col(value_col).cast("long").alias("v"))
    w_ord = Window.partitionBy("entity").orderBy("__t", "__o")
    w_all = Window.partitionBy("entity")
    cur = (base
           .withColumn("idx", F.row_number().over(w_ord))
           .withColumn("sl", F.sum("v").over(w_ord))
           .withColumn("s", F.sum("v").over(w_all))
           .withColumn("n", F.count(F.lit(1)).over(w_all))
           .filter(F.col("idx") < F.col("n")))   # split leaves both sides
    sl = F.col("sl").cast("double")
    sr = (F.col("s") - F.col("sl")).cast("double")
    nl = F.col("idx").cast("double")
    nr = (F.col("n") - F.col("idx")).cast("double")
    s = F.col("s").cast("double")
    nn = F.col("n").cast("double")
    gain = (sl * sl / nl + sr * sr / nr - s * s / nn).alias("gain")
    scored = cur.select("entity", "n", "idx", "sl", "s", gain)
    # argmax with ties to the SMALLEST idx: struct max on (gain, -idx)
    pick = (scored.groupBy("entity").agg(F.max(F.struct(
        F.col("gain").alias("g"),
        (-F.col("idx")).alias("negidx"),
        F.col("idx").alias("idx"),
        F.col("sl").alias("sl"),
        F.col("s").alias("s"),
        F.col("n").alias("nn"))).alias("b")))
    return pick.select(
        "entity",
        F.col("b.nn").cast("long").alias("n"),
        F.col("b.idx").cast("long").alias("split_idx"),
        F.col("b.g").alias("gain"),
        (F.col("b.sl").cast("double")
         / F.col("b.idx").cast("double")).alias("left_mean"),
        ((F.col("b.s") - F.col("b.sl")).cast("double")
         / (F.col("b.nn") - F.col("b.idx")).cast("double"))
        .alias("right_mean"))


def seasonal_mann_kendall(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
    phase_col: str,
    last_k: int = 24,
) -> DataFrame:
    """Seasonal Mann–Kendall (Hirsch & Slack 1984) — the trend test
    that survives periodicity: :func:`mann_kendall` is run WITHIN
    each season (phase) so day/night or weekday/weekend structure
    cannot masquerade as trend, then the phase statistics combine:

        S = Σ_p S_p,   var18 = Σ_p var18_p,
        z = (S ∓ 1)/sqrt(var18/18)      (continuity-corrected)

    Implementation is literally the per-(entity, phase) composite-key
    run of mann_kendall (same trailing-k arrays, same exact pairwise
    and tie folds) plus one exact-integer regroup per entity — the
    independence-across-seasons additivity is the published
    estimator.  Returns (entity, n, n_phases, s_stat, var18, z)."""
    d = df.withColumn(
        "__ep", F.struct(F.col(entity_col).alias("e"),
                         F.col(phase_col).alias("p")))
    per = mann_kendall(d, "__ep", ts_col, order_col, value_col,
                       last_k)
    comb = (per.groupBy(F.col("entity")["e"].alias("e"))
            .agg(F.sum("n").alias("n"),
                 F.count(F.lit(1)).alias("n_phases"),
                 F.sum("s_stat").alias("s_stat"),
                 F.sum("var18").alias("var18")))
    s = F.col("s_stat")
    sigma = F.sqrt(F.col("var18").cast("double") / F.lit(18.0))
    z = (F.when((s == 0) | (F.col("var18") <= 0), F.lit(0.0))
         .otherwise((s.cast("double")
                     - F.signum(s.cast("double"))) / sigma))
    return comb.select(
        F.col("e").alias("entity"),
        F.col("n").cast("long").alias("n"),
        F.col("n_phases").cast("long").alias("n_phases"),
        F.col("s_stat").cast("long").alias("s_stat"),
        F.col("var18").cast("long").alias("var18"),
        z.alias("z"))
