"""Deterministic dataset splitting for training corpora.

A web-scale training pipeline splits its corpus into train/val/test
ONCE, deterministically, and by CONTENT — not by random row sampling:

* deterministic: re-running the pipeline (or running it on a different
  cluster size / partition layout) must assign every document to the
  same split, or downstream caches and eval comparisons are garbage;
* content-keyed: exact duplicates must land in the SAME split, else
  the test set leaks into train through the duplicate (the classic
  contamination bug of row-random splits).

``content_split`` hashes the whitespace-normalized lowercased text
with a polynomial rolling hash mod 2^31-1 evaluated entirely in JVM
expressions (``aggregate`` over the character array — no Python, no
shuffle, embarrassingly parallel) and buckets the hash into weighted
splits.  The hash is plain 64-bit integer arithmetic, reproducible in
any engine (the driver-gate oracle recomputes it in DuckDB with
``list_reduce``) — unlike xxhash64, whose exact values only Spark can
produce.

At 10^12 documents this is a pure map stage: no shuffle, no state,
and the assignment is stable under any repartitioning by construction.
"""
from __future__ import annotations

from typing import Sequence, Tuple

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import normalize_text
from .windows import seconds_to_micros, ts_micros

_MOD = 2_147_483_647  # 2^31 - 1; keeps acc*31 + codepoint < 2^36 in int64


def content_hash(col, salt: int = 0) -> Column:
    """Polynomial rolling hash of the normalized text:
    ``h = fold(chars, salt, (acc, ch) -> (acc*31 + codepoint(ch)) % (2^31-1))``.
    Pure integer column expression — deterministic across partition
    layouts and engines.  Normalization is shared with the dedup
    operators (``dedup.normalize_text``) so 'duplicates share a split'
    and 'duplicates share a fingerprint group' agree by construction.

    NULL text hashes like empty text (deterministic assignment — a
    NULL row must still land in exactly one split).  Edge semantics of
    the empty string: Spark's ``split('', '')`` yields ``['']`` and
    ``ascii('') = 0``, so the fold runs one ``(acc*31 + 0)`` step —
    ``h('') = (salt*31) % (2^31-1)``, matched by DuckDB's
    ``str_split``/``list_reduce`` arithmetic."""
    c = F.col(col) if isinstance(col, str) else col
    chars = F.split(normalize_text(F.coalesce(c, F.lit(""))), "")
    return F.aggregate(
        chars,
        F.lit(int(salt) % _MOD).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % _MOD)


def raw_hash(col, salt: int = 0) -> Column:
    """The polynomial fold of ``content_hash`` WITHOUT text
    normalization — for hashing identifier keys where 'User1' and
    'user1' must NOT collide.  NULL hashes like empty string."""
    c = F.col(col) if isinstance(col, str) else col
    chars = F.split(F.coalesce(c.cast("string"), F.lit("")), "")
    return F.aggregate(
        chars,
        F.lit(int(salt) % _MOD).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % _MOD)


def group_kfold(
    df: DataFrame,
    group_col: str,
    k: int = 5,
    salt: int = 0,
    out_col: str = "fold",
) -> DataFrame:
    """Leakage-safe grouped k-fold assignment: every row of a group
    (entity/user/session) lands in the SAME fold, so held-out folds
    never share an entity with training folds — the k-fold discipline
    for entity-correlated rows (sklearn ``GroupKFold``), made
    deterministic and cluster-reproducible by hashing the group key
    instead of counting groups.

    ``fold = raw_hash(group_key, salt) % k`` — a pure map stage: no
    shuffle, no fitted state, stable under any partition layout, and
    any engine reproduces the assignment exactly (the driver-gate
    oracle recomputes the identical integer fold in DuckDB).  Fold
    sizes are hash-balanced (± binomial noise), not exactly equal —
    the price of determinism without a global group count.
    """
    if k < 2:
        raise ValueError("k must be at least 2")
    return df.withColumn(
        out_col, (raw_hash(group_col, salt) % F.lit(k)).cast("int"))


def purged_time_split(
    df: DataFrame,
    ts_col: str,
    cutoff_ts,
    label_horizon_seconds: float = 0.0,
    embargo_seconds: float = 0.0,
    out_col: str = "split",
) -> DataFrame:
    """Leakage-free temporal train/eval split with purge + embargo
    (the walk-forward CV discipline of López de Prado's *Advances in
    Financial Machine Learning*, ch. 7 — standard for any label built
    from a forward window):

    * ``eval``    — ``ts >= cutoff + embargo``;
    * ``embargo`` — ``cutoff <= ts < cutoff + embargo``: dropped from
      eval so serially-correlated rows adjacent to the training
      boundary don't inflate eval scores;
    * ``purged``  — ``ts < cutoff`` but ``ts + label_horizon >=
      cutoff``: the row's LABEL window peeks across the cutoff, so
      training on it leaks eval-period information;
    * ``train``   — everything earlier.

    Pure map-stage row labeling (no shuffle, stable under any
    partitioning); comparisons are microsecond-integer arithmetic so
    any engine reproduces the assignment exactly.
    """
    us = ts_micros(ts_col)
    cut = ts_micros(F.lit(cutoff_ts))
    horizon = F.lit(seconds_to_micros(label_horizon_seconds))
    embargo = F.lit(seconds_to_micros(embargo_seconds))
    label = (
        F.when(us >= cut + embargo, F.lit("eval"))
         .when(us >= cut, F.lit("embargo"))
         .when(us + horizon >= cut, F.lit("purged"))
         .otherwise(F.lit("train"))
    )
    return df.withColumn(out_col, label)


def content_split(
    df: DataFrame,
    text_col: str = "text",
    weights: Sequence[Tuple[str, int]] = (
        ("train", 80), ("val", 10), ("test", 10)),
    salt: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split by bucketing
    ``content_hash(text) % total_weight`` into cumulative weight
    ranges.  Duplicate texts always share a split."""
    total = sum(w for _, w in weights)
    if total <= 0:
        raise ValueError("weights must sum to a positive integer")
    bucket = content_hash(text_col, salt) % F.lit(total)
    expr = None
    cum = 0
    for name, w in weights:
        cum += w
        cond = bucket < F.lit(cum)
        expr = F.when(cond, F.lit(name)) if expr is None else \
            expr.when(cond, F.lit(name))
    return df.withColumn(out_col, expr)
