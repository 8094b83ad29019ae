"""Grouped ordinary least squares — one trend line per entity from a
single aggregation pass of exact integer sufficient statistics.

``slope = (n·Sxy − Sx·Sy) / (n·Sxx − Sx²)``, intercept, and r² per
group: the "fit a tiny model per key" pattern (per-user spend trend,
per-device drift, per-feature decay) that pulls people toward
``applyInPandas`` + sklearn per group — needlessly: OLS is five sums.
One map-side-combined ``groupBy`` shuffle carrying six numbers per
group, no per-group Python, no iteration.

Exactness contract (the engine convention): quantize ``x`` and ``y``
to integers upstream; every sum is then exact, each is cast to double
ONCE, and the closing arithmetic is an IEEE-deterministic expression
tree a SQL oracle replays bit-for-bit.  Keep Σx², Σxy below 2^53 by
choosing units (seconds-since-group-start, cents).
Reference parity note: the reference engine (transferwise/hisel) has no
grouped-regression layer — this module belongs to the grafted per-entity
analytics surface of the engine (north rule), alongside the point-in-
time operators.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .windows import ts_micros


def group_ols(df: DataFrame, group_col: str, x_col: str,
              y_col: str) -> DataFrame:
    """One row per group: ``(group, n, slope, intercept, r2)``.
    Groups with zero x-variance get NULL slope/intercept/r2 (a
    vertical line is not a function); r2 is NULL when y is constant
    (no variance to explain)."""
    x = F.col(x_col)
    y = F.col(y_col)
    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"))

    def d(c):
        return F.col(c).cast("double")

    n = d("n")
    vx = d("sxx") - d("sx") * d("sx") / n
    vy = d("syy") - d("sy") * d("sy") / n
    cxy = d("sxy") - d("sx") * d("sy") / n
    slope = F.when(vx > 0, cxy / vx)
    intercept = F.when(vx > 0, (d("sy") - (cxy / vx) * d("sx")) / n)
    r2 = F.when((vx > 0) & (vy > 0), (cxy / vx) * (cxy / vy))
    return per.select(group_col, F.col("n").cast("long").alias("n"),
                      slope.alias("slope"),
                      intercept.alias("intercept"),
                      r2.alias("r2"))


def pit_expanding_ols(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Leakage-free expanding OLS trend per row: at each observation,
    the slope/intercept of value-vs-time fitted on STRICTLY PRIOR
    rows of the entity's timeline — the point-in-time twin of
    :func:`group_ols` (which fits the whole series and therefore
    leaks future data if used as a feature).

    x is integer seconds since the entity's FIRST event (known at
    every scoring time — the running window makes it the first PRIOR
    event, so no future timestamp is read); y is the integer-quantized
    value.  The five sufficient sums (n, Σx, Σy, Σxy, Σx²) are exact
    int64 window sums over ``rowsBetween(unboundedPreceding, -1)``,
    and slope/intercept are one mirrored float expression:

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    Overflow bound: n·Σxy ≤ n²·max(x)·max(y) — int64-safe for
    n·span_seconds·cents ≲ 9·10¹⁸ per entity (document per use; cents
    over month-long per-entity timelines at n ≤ 10⁵ fit).  NULL slope
    with fewer than 2 prior points or zero time variance.

    Shape: ONE entity exchange serves the ordered window; no joins.
    Returns input keys + (n_prior, slope, intercept, prediction)
    where prediction = intercept + slope·x (the PIT forecast for the
    current row, to difference against the realized value).
    """
    t_us = ts_micros(ts_col)
    base = df.select(
        F.col(entity_col).alias("entity"),
        t_us.cast("long").alias("__us"),
        F.col(order_col).cast("long").alias("__o"),
        F.col(value_col).cast("long").alias("y"))
    w_ord = Window.partitionBy("entity").orderBy("__us", "__o")
    w_prior = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    first_us = F.min("__us").over(
        w_ord.rowsBetween(Window.unboundedPreceding, 0))
    # integer floor division (DIV): float-divide-then-cast truncates
    # in Spark but rounds in DuckDB — the engine's documented cast trap
    cur = (base.withColumn("__diff", (F.col("__us") - first_us)
                           .cast("long"))
           .withColumn("x", F.expr("__diff DIV 1000000")))
    cur = (cur
           .withColumn("n", F.count(F.lit(1)).over(w_prior))
           .withColumn("sx", F.sum("x").over(w_prior))
           .withColumn("sy", F.sum("y").over(w_prior))
           .withColumn("sxy", F.sum(F.col("x") * F.col("y"))
                       .over(w_prior))
           .withColumn("sxx", F.sum(F.col("x") * F.col("x"))
                       .over(w_prior)))

    def d(c):
        return F.col(c).cast("double")

    den = d("n") * d("sxx") - d("sx") * d("sx")
    slope = F.when((F.col("n") >= 2) & (den > 0),
                   (d("n") * d("sxy") - d("sx") * d("sy")) / den)
    intercept = F.when(slope.isNotNull(),
                       (d("sy") - slope * d("sx")) / d("n"))
    return cur.select(
        "entity", F.col("__us").alias("ts_us"),
        F.col("__o").alias("order_id"), "y",
        F.col("n").cast("long").alias("n_prior"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        (intercept + slope * d("x")).alias("prediction"))


def linear_shap(df: DataFrame, id_col: str, x1_col: str, x2_col: str,
                y_col: str) -> DataFrame:
    """Exact per-row SHAP attributions for a two-feature closed-form
    OLS fit (for a linear model with independent features the Shapley
    value of feature j on row i is exactly ``βⱼ·(xᵢⱼ − x̄ⱼ)``:
    Lundberg & Lee 2017, Corollary 1 — no sampling, no approximation):

        pred(i) = ȳ + contrib₁(i) + contrib₂(i),
        contribⱼ(i) = βⱼ·(xᵢⱼ − x̄ⱼ)

    with β from the 2×2 normal equations solved by Cramer's rule on
    centered second moments.  All columns must be integer-quantized:
    the seven sufficient statistics (n, Σx₁, Σx₂, Σy, Σx₁², Σx₂²,
    Σx₁x₂, Σx₁y, Σx₂y) are exact int64 from ONE map-side-combined
    aggregate, broadcast back; betas and per-row contributions are
    fixed float expressions — bit-reproducible at any partitioning
    and SQL-replayable.  Rows with a NULL in any column are dropped.
    Returns one row per input row: (id, contrib_x1, contrib_x2,
    baseline, prediction).  NULL betas (singular design) yield NULL
    contributions."""
    x1 = F.col(x1_col).cast("long")
    x2 = F.col(x2_col).cast("long")
    y = F.col(y_col).cast("long")
    d = df.filter(F.col(x1_col).isNotNull() & F.col(x2_col).isNotNull()
                  & F.col(y_col).isNotNull())
    stats = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x1).alias("s1"), F.sum(x2).alias("s2"),
        F.sum(y).alias("sy"),
        F.sum(x1 * x1).alias("s11"), F.sum(x2 * x2).alias("s22"),
        F.sum(x1 * x2).alias("s12"),
        F.sum(x1 * y).alias("s1y"), F.sum(x2 * y).alias("s2y"))

    def dd(c):
        return F.col(c).cast("double")

    n = dd("n")
    # centered moments: m_jk = Σxⱼxₖ − ΣxⱼΣxₖ/n
    m11 = dd("s11") - dd("s1") * dd("s1") / n
    m22 = dd("s22") - dd("s2") * dd("s2") / n
    m12 = dd("s12") - dd("s1") * dd("s2") / n
    m1y = dd("s1y") - dd("s1") * dd("sy") / n
    m2y = dd("s2y") - dd("s2") * dd("sy") / n
    det = m11 * m22 - m12 * m12
    b1 = F.when(det != 0.0, (m1y * m22 - m2y * m12) / det)
    b2 = F.when(det != 0.0, (m2y * m11 - m1y * m12) / det)
    model = stats.select(
        "n", "s1", "s2", "sy",
        b1.alias("b1"), b2.alias("b2"),
        (dd("sy") / n).alias("baseline"),
        (dd("s1") / n).alias("mean_x1"),
        (dd("s2") / n).alias("mean_x2"))
    out = d.select(F.col(id_col), x1.alias("__x1"), x2.alias("__x2")) \
           .join(F.broadcast(model))
    c1 = F.col("b1") * (F.col("__x1").cast("double")
                        - F.col("mean_x1"))
    c2 = F.col("b2") * (F.col("__x2").cast("double")
                        - F.col("mean_x2"))
    return out.select(
        id_col,
        c1.alias("contrib_x1"), c2.alias("contrib_x2"),
        F.col("baseline").alias("baseline"),
        (F.col("baseline") + c1 + c2).alias("prediction"))


def cooks_distance(df: DataFrame, id_col: str, x_col: str,
                   y_col: str) -> DataFrame:
    """Per-row OLS influence diagnostics for the single-regressor fit
    y ~ a + b·x — residual, leverage and Cook's distance (Cook 1977),
    the "which rows move the trend" audit next to :func:`group_ols`:

        h_i = 1/n + (x_i − x̄)² / Sxx,
        D_i = e_i²·h_i / (p·s²·(1−h_i)²),   p = 2,  s² = SSE/(n−2)

    ONE aggregate collects the exact int64 moments (n, Σx, Σy, Σx²,
    Σxy, Σy²) — x and y integer-valued (cents convention) — and is
    broadcast back; every per-row quantity is then a fixed float
    expression of that row's (x, y) and the six sums, mirrored
    term-for-term by the oracle.  Map-only after the 6-scalar
    aggregate; no join wider than the broadcast.  The conventional
    flag D_i > 4/n is emitted as `influential`.  Degenerate inputs
    (n < 3 or Sxx = 0 or SSE ≤ 0) yield NULL diagnostics.  Returns
    one row per input row: (id, x, y, resid, leverage, cooks_d,
    influential)."""
    base = df.select(F.col(id_col).alias("id"),
                     F.col(x_col).cast("long").alias("x"),
                     F.col(y_col).cast("long").alias("y"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    j = base.crossJoin(F.broadcast(stats))

    def dd(c):
        return F.col(c).cast("double")

    n = dd("n")
    mx = dd("sx") / n
    my = dd("sy") / n
    cxx = dd("sxx") - dd("sx") * dd("sx") / n
    cxy = dd("sxy") - dd("sx") * dd("sy") / n
    cyy = dd("syy") - dd("sy") * dd("sy") / n
    b = cxy / cxx
    a = my - b * mx
    e = dd("y") - a - b * dd("x")
    sse = cyy - b * cxy
    s2 = sse / (n - 2.0)
    h = 1.0 / n + (dd("x") - mx) * (dd("x") - mx) / cxx
    d_i = (e * e * h) / (2.0 * s2 * (1.0 - h) * (1.0 - h))
    ok = (F.col("n") >= 3) & (cxx > 0.0) & (sse > 0.0)
    return j.select(
        "id", "x", "y",
        F.when(ok, e).alias("resid"),
        F.when(ok, h).alias("leverage"),
        F.when(ok, d_i).alias("cooks_d"),
        F.when(ok, d_i > 4.0 / n).alias("influential"))


def linear_shap3(df: DataFrame, id_col: str, x1_col: str, x2_col: str,
                 x3_col: str, y_col: str) -> DataFrame:
    """Exact closed-form Shapley attributions for a THREE-feature OLS
    — the 3×3 completion of :func:`linear_shap` (Lundberg & Lee 2017:
    for a linear model on independently-attributed features the
    Shapley value of feature j at row i is exactly
    ``β_j·(x_ij − x̄_j)``):

    the centered normal equations  A β = c  with
    ``a_jk = Σx_j x_k − Σx_j Σx_k / n`` (doubles from ONE aggregate
    of exact int64 moments) are solved by CRAMER — four explicit 3×3
    determinants written as fixed expression trees the oracle
    mirrors term-for-term; each attribution is then a map-only
    per-row expression, no join wider than the broadcast of the
    10-moment row.  Efficiency property Σφ + baseline = prediction
    and mean(prediction) = ȳ are pytest-asserted.  Degenerate
    designs (det = 0 or n < 5) yield NULL attributions.  Returns one
    row per input row: (id, contrib_x1, contrib_x2, contrib_x3,
    baseline, prediction)."""
    base = df.select(F.col(id_col).alias("id"),
                     F.col(x1_col).cast("long").alias("x1"),
                     F.col(x2_col).cast("long").alias("x2"),
                     F.col(x3_col).cast("long").alias("x3"),
                     F.col(y_col).cast("long").alias("y"))
    aggs = [F.count(F.lit(1)).alias("n")]
    cols = ["x1", "x2", "x3", "y"]
    for i, a in enumerate(cols):
        aggs.append(F.sum(a).alias(f"s_{a}"))
        for b in cols[i:]:
            aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"s_{a}{b}"))
    stats = base.agg(*aggs)
    j = base.crossJoin(F.broadcast(stats))

    def dd(c):
        return F.col(c).cast("double")

    nd = dd("n")

    def cc(a, b):
        # centered cross moment, the cooks_distance convention
        key = f"s_{a}{b}" if f"s_{a}{b}" in stats.columns \
            else f"s_{b}{a}"
        return dd(key) - dd(f"s_{a}") * dd(f"s_{b}") / nd

    c11, c12, c13 = cc("x1", "x1"), cc("x1", "x2"), cc("x1", "x3")
    c22, c23, c33 = cc("x2", "x2"), cc("x2", "x3"), cc("x3", "x3")
    c1y, c2y, c3y = cc("x1", "y"), cc("x2", "y"), cc("x3", "y")
    det = (c11 * (c22 * c33 - c23 * c23)
           - c12 * (c12 * c33 - c23 * c13)
           + c13 * (c12 * c23 - c22 * c13))
    det1 = (c1y * (c22 * c33 - c23 * c23)
            - c12 * (c2y * c33 - c23 * c3y)
            + c13 * (c2y * c23 - c22 * c3y))
    det2 = (c11 * (c2y * c33 - c3y * c23)
            - c1y * (c12 * c33 - c23 * c13)
            + c13 * (c12 * c3y - c2y * c13))
    det3 = (c11 * (c22 * c3y - c23 * c2y)
            - c12 * (c12 * c3y - c2y * c13)
            + c1y * (c12 * c23 - c22 * c13))
    b1, b2, b3 = det1 / det, det2 / det, det3 / det
    m1 = dd("s_x1") / nd
    m2 = dd("s_x2") / nd
    m3 = dd("s_x3") / nd
    my = dd("s_y") / nd
    p1 = b1 * (dd("x1") - m1)
    p2 = b2 * (dd("x2") - m2)
    p3 = b3 * (dd("x3") - m3)
    ok = (F.col("n") >= 5) & (det != 0.0)
    return j.select(
        "id",
        F.when(ok, p1).alias("contrib_x1"),
        F.when(ok, p2).alias("contrib_x2"),
        F.when(ok, p3).alias("contrib_x3"),
        F.when(ok, my).alias("baseline"),
        F.when(ok, my + p1 + p2 + p3).alias("prediction"))


def ransac_line(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    n_candidates: int = 32,
    tol: int = 50,
    seed: int = 1117,
) -> DataFrame:
    """RANSAC line fit (Fischler & Bolles 1981) with a 100%-EXACT
    decision path — the high-breakdown robust-regression companion of
    :func:`..tsprofile.theil_sen` (survives >50% structured outliers
    where Theil–Sen's 29% breakdown fails):

    * candidate pairs are the argmin points of 2k Carter-Wegman
      hashes h_t(id) = ((id mod M31)·a_t + c_t) mod M31 — literals
      shared with the oracle, the argmins taken as 2k struct-mins in
      ONE aggregate pass (no global sort, no RNG stream — the
      engine's deterministic-sampling convention);
    * each candidate's inlier test is the cross-multiplied EXACT
      integer comparison |(y−ya)(xb−xa) − (yb−ya)(x−xa)| ≤
      tol·|xb−xa| — no float residual anywhere;
    * the winner is (n_inliers DESC, t ASC) — a total order.

    Degenerate candidates (coincident points or vertical pair,
    xa = xb) are dropped AND counted.  The only floats in the output
    are the final slope and inlier-rate divisions.  Plan: one
    aggregate pass + a k-row broadcast against the points + one
    bounded regroup.  Bounds: |y−ya|·|xb−xa| must fit int64
    (|Δ|² ≤ 9·10¹⁸).  Returns ONE row: (t_best, xa, ya, xb, yb,
    n_points, n_valid_candidates, n_degenerate, n_inliers,
    inlier_rate, slope)."""
    from .bootstrap import _M31, cw_constants
    k = int(n_candidates)
    cw = cw_constants(2 * k, int(seed))
    base = df.select(F.col(id_col).cast("long").alias("id"),
                     F.col(x_col).cast("long").alias("x"),
                     F.col(y_col).cast("long").alias("y"))

    def h(t):
        a, c = cw[t]
        return F.pmod(F.pmod(F.col("id"), F.lit(_M31)) * F.lit(a)
                      + F.lit(c), F.lit(_M31))

    aggs = [F.count(F.lit(1)).alias("n_points")]
    for t in range(k):
        aggs.append(F.min(F.struct(
            h(t).alias("h"), F.col("id").alias("id"),
            F.col("x").alias("x"), F.col("y").alias("y")))
            .alias(f"pa{t}"))
        aggs.append(F.min(F.struct(
            h(k + t).alias("h"), F.col("id").alias("id"),
            F.col("x").alias("x"), F.col("y").alias("y")))
            .alias(f"pb{t}"))
    sel = base.agg(*aggs)
    cands = sel.select(
        "n_points",
        F.explode(F.array(*[F.struct(
            F.lit(t).cast("long").alias("t"),
            F.col(f"pa{t}.x").alias("xa"),
            F.col(f"pa{t}.y").alias("ya"),
            F.col(f"pb{t}.x").alias("xb"),
            F.col(f"pb{t}.y").alias("yb"))
            for t in range(k)])).alias("c")) \
        .select("n_points", "c.*")
    valid = cands.filter(F.col("xa") != F.col("xb"))
    n_valid = valid.groupBy().agg(
        F.count(F.lit(1)).alias("n_valid_candidates"))
    j = base.crossJoin(F.broadcast(valid))
    resid = F.abs((F.col("y") - F.col("ya"))
                  * (F.col("xb") - F.col("xa"))
                  - (F.col("yb") - F.col("ya"))
                  * (F.col("x") - F.col("xa")))
    inlier = (resid <= F.lit(int(tol))
              * F.abs(F.col("xb") - F.col("xa")))
    per = (j.groupBy("t", "xa", "ya", "xb", "yb", "n_points")
           .agg(F.sum(inlier.cast("long")).alias("n_inliers")))
    best = per.groupBy().agg(F.max(F.struct(
        F.col("n_inliers").alias("ni"),
        (-F.col("t")).alias("negt"),
        F.col("xa").alias("xa"), F.col("ya").alias("ya"),
        F.col("xb").alias("xb"), F.col("yb").alias("yb"),
        F.col("n_points").alias("np"))).alias("b"))
    b = F.col("b")
    out = best.crossJoin(F.broadcast(n_valid))
    return out.select(
        (-b["negt"]).cast("long").alias("t_best"),
        b["xa"].alias("xa"), b["ya"].alias("ya"),
        b["xb"].alias("xb"), b["yb"].alias("yb"),
        b["np"].cast("long").alias("n_points"),
        F.col("n_valid_candidates").cast("long")
        .alias("n_valid_candidates"),
        (F.lit(k) - F.col("n_valid_candidates")).cast("long")
        .alias("n_degenerate"),
        b["ni"].cast("long").alias("n_inliers"),
        (b["ni"].cast("double") / b["np"].cast("double"))
        .alias("inlier_rate"),
        ((b["yb"] - b["ya"]).cast("double")
         / (b["xb"] - b["xa"]).cast("double")).alias("slope"))
