"""Categorical feature search via adjusted mutual information
(reference ``hisel/categorical.py``).

Scores permutohedron-sampled orderings of the categorical features by
the AMI between the target and the *cumulative joint encoding* of each
prefix (column i encodes features 0..i as one mixed-radix code), takes
the best prefix, and unions a featurewise fallback.

Spark-first distribution: AMI needs only the contingency table of
``(prefix_code, y)``.  All prefix codes of ALL permutation tries in a
round are built as JVM column expressions, exploded into
``(try, level, code, y)`` rows, and counted in ONE ``groupBy`` — a
single shuffle of (distinct codes) rows per round, no Python in the
scan, no sample collection.  The AMI arithmetic on the (small)
contingency tables runs on the driver.
"""
from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

from pyspark.sql import DataFrame, functions as F

from . import permutohedron
from .selection import stack_columns
from .stats import adjusted_mutual_info


def _column_offsets_and_cards(df: DataFrame,
                              cols: Sequence[str]) -> Tuple[Dict[str, int],
                                                            Dict[str, int]]:
    """Per-column min (for the min-subtract normalization, reference
    ``categorical.py:132-133``) and cardinality ``1 + max(x - min)``,
    from one narrow aggregate over the stacked values cast to long (a
    min and a max per column left codegen from 51 columns on)."""
    stacked = stack_columns(df, cols, "long")
    rows = {r["__pos"]: r for r in stacked.groupBy("__pos").agg(
        F.min("__v").alias("lo"), F.max("__v").alias("hi")).collect()}
    mins = {c: int(rows[i]["lo"]) for i, c in enumerate(cols)}
    cards = {c: int(rows[i]["hi"]) - mins[c] + 1
             for i, c in enumerate(cols)}
    return mins, cards


def _ami_from_pairs(pairs: List[Tuple[int, int, int]]) -> float:
    """AMI from (code, y, count) triples."""
    codes = {}
    ys = {}
    for code, yv, _ in pairs:
        codes.setdefault(code, len(codes))
        ys.setdefault(yv, len(ys))
    table = np.zeros((len(codes), len(ys)), dtype=np.int64)
    for code, yv, cnt in pairs:
        table[codes[code], ys[yv]] += cnt
    # expand back to label vectors? not needed: AMI works off the table
    from .stats import (entropy_of_counts, expected_mutual_info,
                        mutual_info_from_table)
    n = int(table.sum())
    r, c = table.shape
    if r == 1 and c == 1:
        return 1.0
    mi = mutual_info_from_table(table)
    emi = expected_mutual_info(table.sum(axis=1), table.sum(axis=0), n)
    h = 0.5 * (entropy_of_counts(table.sum(axis=1))
               + entropy_of_counts(table.sum(axis=0)))
    denom = h - emi
    eps = np.finfo(float).eps
    denom = min(denom, -eps) if denom < 0 else max(denom, eps)
    return float((mi - emi) / denom)


def _prefix_code_exprs(perm_cols: List[str], mins: Dict[str, int],
                       cards: Dict[str, int]) -> List[F.Column]:
    """JVM expressions for the cumulative mixed-radix prefix codes of
    one feature ordering (reference ``categorical.py:202-210``).
    Beware int64 overflow when cardinalities multiply past 2^63 — the
    reference shares this limit (NumPy int64); keep prefixes short or
    cardinalities low."""
    exprs = []
    place = 1
    acc = None
    for c in perm_cols:
        term = (F.col(c).cast("long") - F.lit(mins[c])) * F.lit(place)
        acc = term if acc is None else acc + term
        exprs.append(acc)
        place *= cards[c]
    return exprs


def _score_round(df: DataFrame, tries: List[List[str]], target_col: str,
                 mins, cards) -> List[List[float]]:
    """AMI of every prefix of every try, in one shuffle: explode
    (try, level, code) structs and count by (try, level, code, y)."""
    structs = []
    for t, perm_cols in enumerate(tries):
        for lvl, code in enumerate(_prefix_code_exprs(perm_cols, mins, cards)):
            structs.append(F.struct(F.lit(t).alias("t"),
                                    F.lit(lvl).alias("lvl"),
                                    code.alias("code")))
    counts = (df
              .select(F.col(target_col).alias("__y"),
                      F.explode(F.array(*structs)).alias("s"))
              .groupBy("s.t", "s.lvl", "s.code", "__y")
              .count()
              .collect())
    by_key: Dict[Tuple[int, int], List[Tuple[int, int, int]]] = {}
    for r in counts:
        by_key.setdefault((r["t"], r["lvl"]), []).append(
            (r["code"], r["__y"], r["count"]))
    return [
        [_ami_from_pairs(by_key.get((t, lvl), [(0, 0, 1)]))
         for lvl in range(len(tries[t]))]
        for t in range(len(tries))
    ]


def discretise_column(df: DataFrame, col: str, out_col: str,
                      num_quantiles: int = 10) -> DataFrame:
    """Continuous target -> integer levels by interior quantiles
    (reference ``categorical.py:13-38``), computed with Spark's exact
    ``percentile`` (linear interpolation — same as ``np.quantile``)."""
    qs = np.linspace(1.0 / num_quantiles, 1 - 1.0 / num_quantiles,
                     num=num_quantiles)
    row = df.agg(
        F.min(col).alias("mn"),
        *[F.expr(f"percentile({col}, {q})").alias(f"q{i}")
          for i, q in enumerate(qs)]).collect()[0]
    threshold = float(row["mn"])
    cuts = []
    for i in range(len(qs)):
        quant = float(row[f"q{i}"])
        if quant > threshold:
            threshold = quant
            cuts.append(threshold)
    expr = F.lit(0).cast("long")
    for cut in cuts:
        expr = expr + (F.col(col) > F.lit(cut)).cast("long")
    return df.withColumn(out_col, expr)


def categorical_search(
    df: DataFrame,
    feature_cols: Sequence[str],
    target_col: str,
    num_permutations: Optional[int] = None,
    im_ratio: float = 0.05,
    max_iter: int = 1,
    random_state: Optional[int] = None,
) -> List[str]:
    """Greedy AMI search over integer features; control flow mirrors the
    reference (``categorical.py:115-186``) including the featurewise
    union fallback."""
    feature_cols = list(feature_cols)
    d = len(feature_cols)
    if num_permutations is None:
        num_permutations = 1
    mins, cards = _column_offsets_and_cards(df, feature_cols)

    active_set = set(range(d))
    chosen = np.array([], dtype=np.int64)
    best_overall = 0.0
    it = 0
    while len(active_set) > 0 and it < max_iter:
        active = np.array(sorted(active_set), dtype=np.int64)
        k = len(active)
        n_samples = min(max(1, num_permutations // k), max(2 ** k // k, 1))
        perms = permutohedron.sample_permutations(
            k, size=n_samples, random_state=random_state)
        tries_idx = [active[list(p)] for p in perms]
        tries_cols = [[feature_cols[i] for i in t] for t in tries_idx]
        scores = _score_round(df, tries_cols, target_col, mins, cards)
        im, sel = 0.0, active
        for t, prefix_scores in enumerate(scores):
            s = int(np.argmax(prefix_scores))
            if prefix_scores[s] > im:
                im = prefix_scores[s]
                sel = tries_idx[t][: s + 1]
        if im < im_ratio * best_overall:
            break
        if im > best_overall:
            best_overall = im
        chosen = np.concatenate((chosen, sel))
        active_set -= set(chosen.tolist())
        it += 1

    # featurewise fallback: single-feature AMI above threshold
    threshold = im_ratio * best_overall
    singles = _score_round(df, [[c] for c in feature_cols], target_col,
                           mins, cards)
    fallback = [i for i in range(d) if singles[i][0] > threshold]
    final = sorted(set(chosen.tolist()) | set(fallback))
    return [feature_cols[i] for i in final]


def categorical_select(
    df: DataFrame,
    feature_cols: Sequence[str],
    target_cols: Sequence[str],
    num_permutations: Optional[int] = None,
    im_ratio: float = 0.05,
    max_iter: int = 1,
    random_state: Optional[int] = None,
) -> List[str]:
    """Per-target search with float targets discretised to quantile
    levels; union of selections (reference ``categorical.py:62-112``)."""
    out: List[str] = []
    dtypes = dict(df.dtypes)
    for i, ycol in enumerate(target_cols):
        work = df
        target = ycol
        if dtypes[ycol] in ("double", "float"):
            target = f"__yq_{i}"
            work = discretise_column(df, ycol, target)
        sel = categorical_search(
            work, feature_cols, target,
            num_permutations=num_permutations, im_ratio=im_ratio,
            max_iter=max_iter, random_state=random_state)
        out.extend(s for s in sel if s not in out)
    return out
