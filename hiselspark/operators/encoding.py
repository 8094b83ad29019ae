"""Leakage-free (point-in-time) categorical encodings.

Target encoding is the classic way a feature pipeline leaks its label:
encode a category by the mean of the target computed over the WHOLE
table and every training row has peeked at its own (and its future's)
label.  The point-in-time discipline of this engine (same rule the
as-of join enforces, ``operators/asof.py``) fixes the definition
instead of patching it with folds: the encoding of a row at time ``t``
uses only rows of the same category with timestamp STRICTLY BEFORE
``t`` — rows sharing the exact timestamp are mutually invisible, since
neither label is known at the other's decision time.

Both operators are single-window expressions over one
``(category, ts)`` clustering — at 10^12 rows that is ONE shuffle on
the category key, no self-join, no per-fold passes:

* :func:`target_encode_pit` — expanding strictly-before mean of the
  target per category, smoothed toward a caller-supplied prior with
  pseudo-count ``smoothing`` (the standard m-estimate): ``(sum_before
  + smoothing * prior) / (cnt_before + smoothing)``.  With
  ``smoothing=0`` a category's first-ever row has no defined encoding
  and gets NULL rather than a silently-invented value.
* :func:`count_encode_pit` — strictly-before occurrence count of the
  category (frequency encoding, as-of the row's own timestamp).

The strictly-before set is expressed as a RANGE frame ending one
microsecond before the current row (``windows.ts_micros`` ordering), which
is exactly DuckDB's ``RANGE BETWEEN UNBOUNDED PRECEDING AND 1
PRECEDING`` over the same integer — the driver-gate oracle replays it
verbatim; sums stay exact by quantizing the target to integer units
upstream (the gate convention).
"""
from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window, functions as F

from .windows import ts_micros


def hash_bucket(col, n_buckets: int, salt: int = 0) -> Column:
    """The hashing trick for unbounded-cardinality categoricals
    (domains, URLs, user agents): deterministic bucket id in
    ``[0, n_buckets)`` from the engine's cross-engine content hash —
    no vocabulary to fit, ship, or keep point-in-time-consistent, so
    it composes with the PIT encodings below (encode the BUCKET) when
    the raw category space is too large to shuffle on."""
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive: {n_buckets}")
    from .splits import content_hash
    return (content_hash(col, salt) % F.lit(int(n_buckets))).cast("long")


def _before_frame(category_col: str, ts_col: str):
    return (Window.partitionBy(category_col).orderBy(ts_micros(ts_col))
            .rangeBetween(Window.unboundedPreceding, -1))


def target_encode_pit(
    df: DataFrame,
    category_col: str,
    target_col: str,
    ts_col: str = "ts",
    prior: float = 0.0,
    smoothing: float = 0.0,
    out_col: str = "te",
) -> DataFrame:
    """Add ``out_col`` = m-estimate target encoding of ``category_col``
    using only same-category rows strictly before ``ts_col``."""
    if smoothing < 0:
        raise ValueError(f"smoothing must be >= 0: {smoothing}")
    w = _before_frame(category_col, ts_col)
    s = F.coalesce(F.sum(target_col).over(w), F.lit(0.0))
    c = F.coalesce(F.count(target_col).over(w), F.lit(0))
    num = s + F.lit(float(smoothing) * float(prior))
    den = c + F.lit(float(smoothing))
    return df.withColumn(
        out_col, F.when(den > 0, num / den).otherwise(F.lit(None)))


def count_encode_pit(
    df: DataFrame,
    category_col: str,
    ts_col: str = "ts",
    out_col: str = "ce",
) -> DataFrame:
    """Add ``out_col`` = number of same-category rows strictly before
    ``ts_col`` (as-of frequency encoding; 0 for a first occurrence)."""
    w = _before_frame(category_col, ts_col)
    return df.withColumn(
        out_col,
        F.coalesce(F.count(F.lit(1)).over(w), F.lit(0)).cast("long"))


def _chunked_before_stats(
    df: DataFrame,
    category_col: str,
    value_col: str,
    ts_col: str,
    bucket_seconds: float,
    with_sq: bool,
) -> DataFrame:
    """Strictly-before expanding stats per category, skew-proof: the
    plain encodings above cluster by the RAW category — a
    low-cardinality key (five event types over 10^12 rows) caps
    parallelism at the number of categories and a hot category becomes
    one straggler task.  Here the frame is clustered by ``(category,
    time-bucket)`` (the chunked-timeline discipline of
    ``operators/chunked.py``): the strictly-before frame is computed
    WITHIN each bucket, per-bucket totals (one summary row per
    non-empty bucket, aggregated on the clustering keys with no extra
    shuffle) are prefix-scanned per category, and the prior-bucket
    offsets joined back on the clustering keys — one full-frame
    shuffle total, hot categories split across ``span/bucket`` tasks.
    Nothing is persisted: the local-frame branch and the totals branch
    each re-evaluate the (cheap) input, as in every chunked operator.

    Rows with equal timestamps always share a bucket (the bucket is a
    function of the timestamp), so the bucket split can never divide a
    tie-group: local-frame + offset is EXACTLY the strictly-before
    set.  With an integer value column the split sums are exact, so
    the derived encodings are bit-identical to the plain twins (the
    gate checks both against one oracle).

    Adds ``__n`` (row count), ``__c``/``__s`` (value count/sum) and,
    with ``with_sq``, ``__ss`` — all strictly-before totals.
    """
    from .chunked import _B, _bucket_of, _cluster
    v = F.col(value_col)
    tagged = df.withColumn(_B, _bucket_of(ts_col, bucket_seconds))
    if with_sq:
        tagged = tagged.withColumn("__v2", v * v)
    clustered = _cluster(tagged, category_col)

    wl = (Window.partitionBy(category_col, _B).orderBy(ts_micros(ts_col))
          .rangeBetween(Window.unboundedPreceding, -1))
    local = (clustered
             .withColumn("__ln", F.count(F.lit(1)).over(wl))
             .withColumn("__lc", F.count(value_col).over(wl))
             .withColumn("__ls", F.sum(value_col).over(wl)))
    aggs = [F.count(F.lit(1)).alias("__tn"),
            F.count(value_col).alias("__tc"),
            F.sum(value_col).alias("__ts")]
    if with_sq:
        local = local.withColumn("__lss", F.sum("__v2").over(wl))
        aggs.append(F.sum("__v2").alias("__tss"))

    # per-(category, bucket) totals: groupBy keys == clustering keys,
    # no new exchange; prefix over EARLIER buckets = the offset
    totals = clustered.groupBy(category_col, _B).agg(*aggs)
    wp = (Window.partitionBy(category_col).orderBy(_B)
          .rowsBetween(Window.unboundedPreceding, -1))
    off_cols = [F.sum("__tn").over(wp).alias("__on"),
                F.sum("__tc").over(wp).alias("__oc"),
                F.sum("__ts").over(wp).alias("__os")]
    if with_sq:
        off_cols.append(F.sum("__tss").over(wp).alias("__oss"))
    offsets = totals.select(category_col, _B, *off_cols)

    out = (local.join(offsets, [category_col, _B], "left")
           .withColumn("__n", (F.col("__ln")
                               + F.coalesce(F.col("__on"), F.lit(0))
                               ).cast("long"))
           .withColumn("__c", (F.col("__lc")
                               + F.coalesce(F.col("__oc"), F.lit(0))
                               ).cast("long"))
           .withColumn("__s", F.when(
               (F.col("__lc") + F.coalesce(F.col("__oc"), F.lit(0))) > 0,
               F.coalesce(F.col("__ls"), F.lit(0))
               + F.coalesce(F.col("__os"), F.lit(0)))))
    if with_sq:
        out = out.withColumn("__ss", F.when(
            F.col("__c") > 0,
            F.coalesce(F.col("__lss"), F.lit(0))
            + F.coalesce(F.col("__oss"), F.lit(0))))
        out = out.drop("__lss", "__oss", "__v2")
    return out.drop("__ln", "__lc", "__ls", "__tn", "__tc", "__ts",
                    "__on", "__oc", "__os", _B)


def chunked_target_encode(
    df: DataFrame,
    category_col: str,
    target_col: str,
    ts_col: str = "ts",
    bucket_seconds: float = 7 * 86400.0,
    prior: float = 0.0,
    smoothing: float = 0.0,
    out_col: str = "te",
) -> DataFrame:
    """Skew-proof twin of :func:`target_encode_pit` — identical output
    (bit-identical for integer targets), hot categories split across
    time buckets."""
    if smoothing < 0:
        raise ValueError(f"smoothing must be >= 0: {smoothing}")
    stats = _chunked_before_stats(df, category_col, target_col, ts_col,
                                  bucket_seconds, with_sq=False)
    num = (F.coalesce(F.col("__s"), F.lit(0.0))
           + F.lit(float(smoothing) * float(prior)))
    den = F.col("__c") + F.lit(float(smoothing))
    return (stats.withColumn(
        out_col, F.when(den > 0, num / den).otherwise(F.lit(None)))
        .drop("__n", "__c", "__s"))


def chunked_count_encode(
    df: DataFrame,
    category_col: str,
    ts_col: str = "ts",
    bucket_seconds: float = 7 * 86400.0,
    out_col: str = "ce",
) -> DataFrame:
    """Skew-proof twin of :func:`count_encode_pit`."""
    stats = _chunked_before_stats(df, category_col, category_col,
                                  ts_col, bucket_seconds, with_sq=False)
    return (stats.withColumn(out_col, F.col("__n"))
            .drop("__n", "__c", "__s"))


def chunked_expanding_zscore(
    df: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str = "ts",
    bucket_seconds: float = 7 * 86400.0,
    out_col: str = "z",
) -> DataFrame:
    """Skew-proof twin of :func:`expanding_zscore_pit` — same
    mean/variance expression tree over the split-and-summed exact
    integer stats, so outputs are bit-identical for integer values."""
    stats = _chunked_before_stats(df, key_col, value_col, ts_col,
                                  bucket_seconds, with_sq=True)
    v = F.col(value_col).cast("double")
    s = F.col("__s").cast("double")
    ss = F.col("__ss").cast("double")
    c = F.col("__c").cast("double")
    mean = s / c
    var = F.greatest(ss / c - mean * mean, F.lit(0.0))
    std = F.sqrt(var)
    return (stats.withColumn(
        out_col, F.when((c >= 2) & (std > 0), (v - mean) / std)
                  .otherwise(F.lit(None)))
        .drop("__n", "__c", "__s", "__ss"))


def expanding_zscore_pit(
    df: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str = "ts",
    out_col: str = "z",
) -> DataFrame:
    """Add ``out_col`` = z-score of ``value_col`` against the mean/std
    of same-key rows STRICTLY before ``ts_col`` — the leakage-free twin
    of a fitted StandardScaler: a training row is normalized only by
    statistics that were observable at its own timestamp (a scaler fit
    on the full table leaks every row's value into its own feature).

    NULL when fewer than 2 earlier rows exist or the earlier values
    are constant (no scale to normalize by — inventing one would hide
    a degenerate feature).  Population (1/n) variance, computed as
    ``E[x^2] - mean^2`` clamped at 0 against float cancellation; with
    an integer-quantized value column the two expanding sums are exact,
    so every engine derives the identical double from identical
    operands (how the driver-gate oracle replays it).

    Same single-shuffle shape as the encodings above: one window over
    one ``(key, ts)`` clustering, stackable with them at no extra
    exchange.
    """
    w = _before_frame(key_col, ts_col)
    v = F.col(value_col).cast("double")
    s = F.sum(value_col).over(w).cast("double")
    ss = F.sum(F.col(value_col) * F.col(value_col)).over(w).cast("double")
    c = F.count(value_col).over(w).cast("double")
    mean = s / c
    var = F.greatest(ss / c - mean * mean, F.lit(0.0))
    std = F.sqrt(var)
    return df.withColumn(
        out_col,
        F.when((c >= 2) & (std > 0), (v - mean) / std)
         .otherwise(F.lit(None)))


def woe_encode(
    df: DataFrame,
    category_col: str,
    label_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Weight-of-evidence table for a categorical feature against a
    binary label: per category,
    ``woe = ln((pos_c+α)/(POS+2α)) − ln((neg_c+α)/(NEG+2α))`` and its
    information-value contribution
    ``iv = ((pos_c+α)/(POS+2α) − (neg_c+α)/(NEG+2α)) · woe`` — the
    standard scorecard encoding (positive = the category over-indexes
    on the positive class), with Laplace smoothing α so single-class
    categories stay finite.

    Shape at scale: one partial-aggregated ``groupBy(category)`` for
    the per-category counts; the global totals are an unpartitioned
    window over that same table — single-task, but the table is
    already one row per category, so it is trivially small by the time
    it gets there (the 10^12 input rows were reduced map-side).  All
    counts are exact integers, so the ratios (and the doubles fed to
    ``ln``) are reproducible cross-engine.  Join the result back on
    ``category_col`` (broadcast — one row per category) to encode
    rows; the table itself is the fit artifact."""
    lbl = F.col(label_col).cast("long")
    per = (df.groupBy(category_col)
             .agg(F.sum(lbl).alias("pos"),
                  (F.count(lbl) - F.sum(lbl)).alias("neg")))
    a = float(alpha)
    g = Window.partitionBy()
    p = (F.col("pos") + a) / (F.sum("pos").over(g) + 2 * a)
    q = (F.col("neg") + a) / (F.sum("neg").over(g) + 2 * a)
    woe = F.log(p) - F.log(q)
    return (per.withColumn("woe", woe)
               .withColumn("iv", (p - q) * woe)
               .select(category_col, "pos", "neg", "woe", "iv"))


def feature_cross(
    df: DataFrame,
    cols,
    n_buckets: int = 64,
    salt: int = 0,
    out_col: str = "cross_bucket",
    sep: str = "|",
) -> DataFrame:
    """Hash-trick feature crossing: combine several categorical
    columns into one bounded-cardinality bucket id,
    ``bucket = poly_hash(c1 || sep || c2 || ...) mod n_buckets`` — the
    classic way to feed high-order categorical interactions
    (type × hour, country × device) to a model without materializing
    the cross-product vocabulary.  Collisions are the accepted price
    (and are deterministic).

    Built on :func:`hash_bucket` (the engine's portable polynomial
    content hash — same arithmetic replays in SQL), so bucket
    assignment is identical across partitionings, runs and engines;
    note the hash normalizes text (lowercase, collapsed whitespace),
    so crosses are case-insensitive.  NULL components hash as empty.
    Pure JVM column expression — no shuffle, no UDF.
    """
    key = F.concat_ws(
        sep, *[F.coalesce(F.col(c).cast("string"), F.lit(""))
               for c in cols])
    return (df.withColumn("__cross_key", key)
              .withColumn(out_col,
                          hash_bucket(F.col("__cross_key"),
                                      n_buckets, salt)))


def rank_normalize(
    df: DataFrame,
    col: str,
    out_col: Optional[str] = None,
) -> DataFrame:
    """Rank-normalize an integer-quantized column to (0, 1): each value
    maps to its midpoint empirical CDF ``(below + tied/2) / n`` — the
    distribution-free feature transform (quantile/rank scaling) that
    makes heavy-tailed counts comparable across features and robust to
    outliers, where a z-score is neither.

    Shape: one ``groupBy(value)`` reduces the rows to the distinct
    value domain (bounded by the quantization), the cumulative counts
    are a window over that count table, and the mapping joins back on
    the value — rows never sort globally.  All counts exact; ties all
    receive the identical midpoint rank (average-rank convention, same
    as the AUC machinery in ``operators/evaluate``)."""
    out_col = out_col or f"{col}_qnorm"
    per = df.groupBy(col).agg(F.count(F.lit(1)).alias("__cnt"))
    w = (Window.orderBy(col)
               .rowsBetween(Window.unboundedPreceding, -1))
    g = Window.partitionBy()
    mapping = (per.withColumn("__below",
                              F.coalesce(F.sum("__cnt").over(w),
                                         F.lit(0)))
                  .withColumn(out_col,
                              (F.col("__below")
                               + F.col("__cnt").cast("double") / 2.0)
                              / F.sum("__cnt").over(g))
                  .select(col, out_col))
    return df.join(mapping, col)


FEATURE_HASH_SEED = 9103


def feature_hashing(
    df: DataFrame,
    entity_col: str,
    token_col: str,
    n_dims: int = 16,
    seed: int = FEATURE_HASH_SEED,
) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): fixed-width feature
    vectors from unbounded categorical streams — each token maps to
    bucket ``h(token) mod d`` with sign ``±1`` from a second hash bit,
    and the entity's vector is the signed count per bucket.  No
    vocabulary table, no fit step, dimensionality fixed up front —
    the featurizer that never needs a second pass at 100 TB.

    Hashes are the engine's cross-engine polynomial fold of the token
    (``operators/splits.raw_hash``) mixed by literal Carter-Wegman
    constants — no JVM-private hash, so a second engine recomputes
    every bucket and sign.  Returns one row per (entity, bucket) with
    the signed count (exact integer); densify downstream with a
    pivot when a wide row is wanted.  ONE map-side-combined shuffle.
    """
    if n_dims < 2:
        raise ValueError("n_dims must be >= 2")
    from .bootstrap import _M31, cw_constants
    (a1, c1), (a2, c2) = cw_constants(2, seed)
    from .splits import raw_hash
    h = raw_hash(token_col)
    bucket = F.pmod(h * F.lit(a1) + F.lit(c1), F.lit(_M31)) \
        % F.lit(n_dims)
    sign = (F.when(F.pmod(h * F.lit(a2) + F.lit(c2), F.lit(_M31))
                   % 2 == 0, F.lit(1)).otherwise(F.lit(-1)))
    return (df.select(F.col(entity_col).alias("entity"),
                      bucket.alias("bucket"), sign.alias("sgn"))
            .groupBy("entity", "bucket")
            .agg(F.sum("sgn").alias("signed_count")))


def quantile_bin(df: DataFrame, col: str, n_bins: int = 10,
                 out_col: Optional[str] = None) -> DataFrame:
    """Equal-frequency (quantile) binning of an integer column: bin =
    ⌊B · below / n⌋ where ``below`` is the exact count of strictly
    smaller values — the CDF-based rule, so every tie lands in one
    bin and the cut is EXACT integer arithmetic (no float quantile
    boundary for engines to disagree on).

    The bin map comes off the distinct-value count table (one small
    shuffle + an ordered running sum over distinct values, bounded by
    the alphabet, never a row sort) and joins back as a broadcast —
    the same plan as every rank-based encoder here.  Skewed columns
    degrade gracefully: a value holding > n/B of the mass simply owns
    its bin(s), the equal-frequency ideal truncated by ties.

    Adds ``out_col`` (default ``{col}_qbin``) as int64 in [0, B).
    NULL inputs (and values the long cast cannot represent) keep
    their row and get a NULL bin — the add-a-column contract; they
    never enter the CDF counts.
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    out_col = out_col or f"{col}_qbin"
    v = F.col(col).cast("long")
    per_v = (df.select(v.alias("__v"))
             .filter(F.col("__v").isNotNull())
             .groupBy("__v").agg(F.count(F.lit(1)).alias("__t")))
    w_run = (Window.orderBy("__v")
             .rowsBetween(Window.unboundedPreceding, -1))
    w_all = Window.partitionBy()
    # integer floor division (DIV), not float-divide-then-cast: Spark
    # casts double->long by truncation but DuckDB CAST rounds, and a
    # correctly-rounded 7.999..->8.0 would shift the floor anyway
    binmap = (per_v
              .select("__v",
                      F.coalesce(F.sum("__t").over(w_run), F.lit(0))
                      .alias("__below"),
                      F.sum("__t").over(w_all).alias("__n"))
              .select("__v",
                      F.expr(f"({int(n_bins)} * __below) DIV __n")
                      .alias(out_col)))
    return (df.withColumn("__v", v)
            .join(F.broadcast(binmap), "__v", "left")
            .drop("__v"))


def embedding_profile_pit(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    vec_col: str = "embedding",
    out_col: str = "profile",
) -> DataFrame:
    """Point-in-time entity profile vector: for every row, the
    per-dimension MEAN of all the entity's embedding vectors STRICTLY
    BEFORE it (ties broken by ``order_col``, which must be unique per
    entity) — the "user tower" feature of retrieval/ranking training
    pipelines, leakage-free by the same strictly-before contract as
    ``target_encode_pit``.

    Plan: ``posexplode`` the vector (d× row inflation — declared),
    one running sum/count WindowExec clustered on (entity, dim), then
    one regroup on (entity, row) that reassembles the array in sorted
    dimension order (bit-deterministic: the running sums accumulate
    in the unique (ts, order) order, so every double is reproducible
    and the SQL oracle replays them exactly).  Two hash shuffles
    total, both on keys that scale with the corpus — no driver state.
    Rows with no prior history get ``n_prior = 0`` and a NULL
    profile (no defined mean), which downstream imputation handles
    explicitly rather than silently zero-filling.

    Returns (entity, ts, order, n_prior, ``out_col`` array<double>).
    """
    ex = df.select(
        F.col(entity_col).alias("_e"),
        F.col(ts_col).alias("_ts"),
        F.col(order_col).alias("_o"),
        F.posexplode(F.col(vec_col)).alias("_dim", "_v"))
    w = (Window.partitionBy("_e", "_dim")
         .orderBy(ts_micros("_ts"), F.col("_o"))
         .rowsBetween(Window.unboundedPreceding, -1))
    ex = (ex.withColumn("_s", F.sum(F.col("_v").cast("double")).over(w))
            .withColumn("_c", F.count("_v").over(w)))
    prof = (ex.groupBy("_e", "_ts", "_o")
            .agg(F.max("_c").alias("n_prior"),
                 F.transform(
                     F.sort_array(F.collect_list(F.struct(
                         F.col("_dim").alias("d"),
                         (F.col("_s") / F.col("_c")).alias("m")))),
                     lambda s: s["m"]).alias(out_col)))
    return prof.select(
        F.col("_e").alias(entity_col),
        F.col("_ts").alias(ts_col),
        F.col("_o").alias(order_col),
        "n_prior",
        F.when(F.col("n_prior") > 0, F.col(out_col)).alias(out_col))


def robust_scale(df: DataFrame, id_col: str,
                 cols: "Sequence[str]") -> DataFrame:
    """Median/MAD robust z-score of every feature column — the
    outlier-proof cousin of standardization (the consistency constant
    1.4826 makes the MAD estimate sigma under normality):

        rz = (x − median) / (1.4826 · MAD)

    Exactness: both order statistics come off the per-(feature, value)
    COUNT TABLE — never a row sort.  The doubled median ``m2 = lo +
    hi`` (the hampel/exact_quantiles trick, interpolation-free) is an
    exact int64; deviations ``d = |2x − m2|`` are exact ints whose own
    count table yields the doubled-MAD ``mad2d = 4·MAD`` exactly; the
    final score is ONE mirrored float expression
    ``2·(2x − m2) / (1.4826 · mad2d)`` per row.  Constant features
    (mad2d = 0) yield NULL rz — declared, not a division blow-up.

    Plan shape: one unpivot (map-only), two (feature, value)-keyed
    count aggregates with a tiny per-feature window each (cost bounded
    by DISTINCT values, not rows), one broadcast join of the
    k-row stats table back onto the long rows.  ``cols`` must be
    integer-valued (cents convention); NULLs are excluded from the
    statistics and get NULL rz.

    Returns (id, feature, v, m2, mad2d, rz) — one row per (row,
    feature).
    """
    cols = list(cols)
    parts = [
        df.select(F.col(id_col).cast("long").alias("id"),
                  F.lit(c).alias("feat"),
                  F.col(c).cast("long").alias("v"))
        for c in cols
    ]
    long_df = parts[0]
    for p in parts[1:]:
        long_df = long_df.unionAll(p)
    nn = long_df.filter(F.col("v").isNotNull())

    def med2_from_counts(cnt_df, val_col):
        """Doubled median off a (feat, value, t) count table."""
        w_run = (Window.partitionBy("feat").orderBy(val_col)
                 .rowsBetween(Window.unboundedPreceding,
                              Window.currentRow))
        w_tot = Window.partitionBy("feat")
        c = (cnt_df
             .withColumn("cum", F.sum("t").over(w_run))
             .withColumn("n", F.sum("t").over(w_tot)))
        lo_pos = (F.col("n") + 1) - F.expr("n DIV 2") - 1  # ceil(n/2)
        hi_pos = F.expr("n DIV 2") + 1
        lo = (c.filter(F.col("cum") >= lo_pos)
              .groupBy("feat").agg(F.min(val_col).alias("lo")))
        hi = (c.filter(F.col("cum") >= hi_pos)
              .groupBy("feat").agg(F.min(val_col).alias("hi")))
        return lo.join(hi, "feat").select(
            "feat", (F.col("lo") + F.col("hi")).alias("m2"))

    per_v = nn.groupBy("feat", "v").agg(F.count(F.lit(1)).alias("t"))
    med = med2_from_counts(per_v, "v")
    dev_cnt = (per_v.join(F.broadcast(med), "feat")
               .select("feat",
                       F.abs(F.lit(2) * F.col("v") - F.col("m2"))
                       .alias("d"), "t")
               .groupBy("feat", "d").agg(F.sum("t").alias("t")))
    mad = (med2_from_counts(dev_cnt, "d")
           .withColumnRenamed("m2", "mad2d"))
    stats = med.join(mad, "feat")
    out = long_df.join(F.broadcast(stats), "feat")
    rz = (F.lit(2.0) * (F.lit(2) * F.col("v") - F.col("m2"))
          .cast("double")
          / (F.lit(1.4826) * F.col("mad2d").cast("double")))
    return out.select(
        "id", F.col("feat").alias("feature"), "v", "m2", "mad2d",
        F.when(F.col("v").isNotNull() & (F.col("mad2d") > 0), rz)
        .alias("rz"))


def quantile_normalize(df: DataFrame, id_col: str,
                       cols: "Sequence[str]") -> DataFrame:
    """Quantile normalization across features (the microarray-era
    classic, Bolstad et al. 2003): every feature is mapped onto the
    AVERAGE distribution — row with within-feature rank p takes the
    mean over features of the p-th smallest values — so all features
    share one marginal distribution afterwards.

    Determinism: within-feature ranks come from ``row_number`` over
    (value, id) — the unique id tiebreaker makes tie assignment a
    DECLARED deterministic convention (ties receive adjacent
    positions' averages, not a shared mean) reproducible on any
    layout; the per-position cross-feature sum is an exact int64 and
    the normalized value is ONE division by the feature count.

    Plan shape: one unpivot (map-only), one feature-keyed rank
    window, one position-keyed aggregate (k rows per position), one
    join back on position — never a global sort.  ``cols`` must be
    integer-valued (cents convention) and NULL-free (quantile
    normalization is undefined on ragged columns — rows where ANY
    feature is NULL are rejected with ValueError upstream semantics:
    a count check raises).

    Returns (id, feature, v, pos, qn).
    """
    cols = list(cols)
    k = len(cols)
    if k < 2:
        raise ValueError("need >= 2 feature columns")
    for c in cols:
        if df.filter(F.col(c).isNull()).limit(1).count() > 0:
            raise ValueError(
                f"quantile_normalize: column {c} contains NULLs")
    parts = [
        df.select(F.col(id_col).cast("long").alias("id"),
                  F.lit(c).alias("feat"),
                  F.col(c).cast("long").alias("v"))
        for c in cols
    ]
    long_df = parts[0]
    for p in parts[1:]:
        long_df = long_df.unionAll(p)
    w = Window.partitionBy("feat").orderBy("v", "id")
    ranked = long_df.withColumn("pos", F.row_number().over(w))
    per_pos = ranked.groupBy("pos").agg(
        F.sum("v").alias("sv"),
        F.count(F.lit(1)).alias("kk"))
    out = (ranked.join(per_pos, "pos")
           .select("id", F.col("feat").alias("feature"), "v",
                   F.col("pos").cast("long").alias("pos"),
                   F.round(F.col("sv").cast("double")
                           / F.col("kk").cast("double"), 6)
                   .alias("qn")))
    return out


def loo_encode(df: DataFrame, id_col: str, category_col: str,
               y_col: str) -> DataFrame:
    """Leave-one-out target encoding (the shuffled-training
    counterpart of :func:`target_encode_pit` — when rows are i.i.d.
    training examples rather than a timeline, the leak-free encode of
    a row excludes only THE ROW ITSELF):

        loo(i) = (S_g − yᵢ) / (n_g − 1)

    with S_g/n_g the exact int64 sum/count of ``y_col`` (integer
    cents convention) over the row's category.  One map-side-combined
    groupBy over categories plus one join back on the category key —
    no window, no per-row state.  Rows with NULL ``y_col`` don't
    enter the statistics and get NULL loo (but are KEPT — the
    add-a-column contract); singleton categories (n_g = 1) get NULL
    loo.  Returns (id, category, y, n_g, s_g, loo)."""
    d = df.select(F.col(id_col).alias("id"),
                  F.col(category_col).alias("category"),
                  F.col(y_col).cast("long").alias("y"))
    grp = (d.filter(F.col("y").isNotNull())
             .groupBy("category")
             .agg(F.count(F.lit(1)).alias("n_g"),
                  F.sum("y").alias("s_g")))
    out = d.join(grp, "category", "left")
    loo = F.when(F.col("y").isNotNull() & (F.col("n_g") > 1),
                 (F.col("s_g") - F.col("y")).cast("double")
                 / (F.col("n_g") - 1).cast("double"))
    return out.select("id", "category", "y",
                      F.col("n_g").cast("long").alias("n_g"),
                      F.col("s_g").cast("long").alias("s_g"),
                      loo.alias("loo"))


def js_encode(df: DataFrame, id_col: str, category_col: str,
              y_col: str) -> DataFrame:
    """James–Stein shrinkage target encoding — the principled middle
    ground between the raw category mean (overfits rare categories)
    and the global mean (ignores signal):

        B_c = s²/n_c / (s²/n_c + τ²),
        ĵs_c = (1 − B_c)·ȳ_c + B_c·ȳ

    with s² the pooled WITHIN-category variance and τ² the BETWEEN-
    category variance of the category means (both method-of-moments,
    floored at 0; B snaps to 1 when τ² = 0 — no between signal, full
    shrinkage).  Every sufficient statistic (per-category n, Σy, Σy²
    and their global rollups) is exact int64 with integer ``y_col``;
    the τ² estimate folds the category-mean deviations in category
    order.  Every row keeps its row and receives the encode
    (add-a-column contract — NULL-y inference rows too: the
    statistics come only from labeled rows, so there is no leakage);
    categories never seen labeled get NULL.  Singleton categories
    shrink hard (B → 1 as s²/n_c dominates).  Returns (id, category,
    y, n_c, b_shrink, js)."""
    d = df.select(F.col(id_col).alias("id"),
                  F.col(category_col).alias("category"),
                  F.col(y_col).cast("long").alias("y"))
    per = (d.filter(F.col("y").isNotNull())
             .groupBy("category")
             .agg(F.count(F.lit(1)).alias("n_c"),
                  F.sum("y").alias("s_c"),
                  F.sum(F.col("y") * F.col("y")).alias("q_c")))
    nd_c = F.col("n_c").cast("double")
    mean_c = F.col("s_c").cast("double") / nd_c
    glob = per.agg(
        F.sum("n_c").alias("n"),
        F.sum("s_c").alias("s"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("q_c")).alias("q"),
        # pooled within-category SS: Σ(q_c − s_c²/n_c), fold in
        # category order (float after exact int64 inputs)
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct(
                    F.col("category").alias("g"),
                    (F.col("q_c").cast("double")
                     - F.col("s_c").cast("double")
                     * F.col("s_c").cast("double") / nd_c)
                    .alias("t")))),
                lambda s_: s_["t"]),
            F.lit(0.0), lambda acc, x: acc + x).alias("ssw"))
    per2 = per.crossJoin(F.broadcast(glob))
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    gmean = F.col("s").cast("double") / nd
    s2 = F.when(F.col("n") > F.col("k"),
                F.col("ssw") / (nd - kd)).otherwise(F.lit(0.0))
    # between variance of category means (unweighted MoM)
    tau_frame = per2.select(
        "category", "n_c", "s_c",
        s2.alias("s2"), gmean.alias("gmean"),
        ((mean_c - gmean) * (mean_c - gmean)).alias("dev2"))
    tau = (tau_frame.groupBy("s2", "gmean")
           .agg(F.count(F.lit(1)).alias("k2"),
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct(
                            F.col("category").alias("g"),
                            F.col("dev2").alias("t")))),
                        lambda s_: s_["t"]),
                    F.lit(0.0),
                    lambda acc, x: acc + x).alias("sdev2")))
    tau = tau.select(
        "s2", "gmean",
        F.when(F.col("k2") >= 2,
               F.greatest(F.lit(0.0),
                          F.col("sdev2")
                          / (F.col("k2").cast("double") - 1.0)))
         .otherwise(F.lit(0.0)).alias("tau2"))
    enc = per.crossJoin(F.broadcast(tau))
    se2 = F.col("s2") / nd_c
    b = F.when(se2 + F.col("tau2") > 0.0,
               se2 / (se2 + F.col("tau2"))).otherwise(F.lit(1.0))
    js = (F.lit(1.0) - b) * mean_c + b * F.col("gmean")
    enc = enc.select("category",
                     F.col("n_c").cast("long").alias("n_c"),
                     b.alias("b_shrink"), js.alias("js"))
    out = d.join(F.broadcast(enc), "category", "left")
    return out.select(
        "id", "category", "y",
        F.col("n_c").cast("long").alias("n_c"),
        F.col("b_shrink").alias("b_shrink"),
        F.col("js").alias("js"))
