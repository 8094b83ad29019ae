"""Count-trained HMM Viterbi decoding in the exact-replay discipline.

Train: maximum-likelihood transition / emission / initial counts with
integer Laplace smoothing, from sequences whose state column is
observed (the supervised-HMM shape: tag sequences, event types,
session stages).  Decode: the Viterbi DP over a HELD-OUT frame's
observation sequences — the most likely state path per entity.

Everything the two engines must agree on is either an exact integer
count or a float expression in pinned operation order: the DP fold
iterates previous states in ascending index order with a strict-max
(ties to the smaller state index), so the decoded path and its log
probability are bit-reproducible and a SQL engine replays the whole
lattice with a recursive CTE.

The model matrices are tiny (K states, V observation symbols) and are
collected once and inlined as literal arrays into the decode
expression — the same broadcast-small-model shape as the Naive Bayes
scorer; the decode itself is one entity exchange + a per-entity fold.
"""
from __future__ import annotations

import math
from typing import Dict, List, Tuple

from pyspark.sql import DataFrame, Window, functions as F

from .windows import ts_micros


def train_hmm_counts(train: DataFrame, entity_col: str, ts_col: str,
                     order_col: str, state_col: str, obs_col: str,
                     alpha: int = 1):
    """Exact integer HMM sufficient statistics from observed-state
    sequences: returns (states, n_obs_symbols, init, trans, emit)
    where ``states`` is the sorted state vocabulary, ``init[s]`` /
    ``trans[s][s']`` / ``emit[s][o]`` are Laplace-smoothed log
    probabilities (python floats — exact functions of the integer
    counts, recomputable by any engine).  Observation symbols must be
    integers in [0, n_obs).  One window + three count shuffles."""
    w = Window.partitionBy(entity_col).orderBy(
        ts_micros(ts_col),
        F.col(order_col))
    seq = train.select(
        F.col(entity_col).alias("e"),
        F.col(state_col).alias("s"),
        F.col(obs_col).cast("long").alias("o"),
        F.lag(F.col(state_col)).over(w).alias("prev"))
    init_rows = (seq.filter(F.col("prev").isNull())
                 .groupBy("s").agg(F.count(F.lit(1)).alias("c"))
                 .collect())
    trans_rows = (seq.filter(F.col("prev").isNotNull())
                  .groupBy("prev", "s")
                  .agg(F.count(F.lit(1)).alias("c")).collect())
    emit_rows = (seq.groupBy("s", "o")
                 .agg(F.count(F.lit(1)).alias("c")).collect())
    states = sorted({r["s"] for r in emit_rows})
    idx = {s: i for i, s in enumerate(states)}
    n_obs = max(r["o"] for r in emit_rows) + 1
    k = len(states)
    a = int(alpha)
    init_c = [0] * k
    for r in init_rows:
        init_c[idx[r["s"]]] = r["c"]
    trans_c = [[0] * k for _ in range(k)]
    for r in trans_rows:
        trans_c[idx[r["prev"]]][idx[r["s"]]] = r["c"]
    emit_c = [[0] * n_obs for _ in range(k)]
    for r in emit_rows:
        emit_c[idx[r["s"]]][r["o"]] = r["c"]
    n_init = sum(init_c)
    init = [math.log((c + a) / (n_init + a * k)) for c in init_c]
    trans = [[math.log((c + a) / (sum(row) + a * k)) for c in row]
             for row in trans_c]
    emit = [[math.log((c + a) / (sum(row) + a * n_obs)) for c in row]
            for row in emit_c]
    return states, int(n_obs), init, trans, emit


def viterbi_decode(train: DataFrame, score: DataFrame,
                   entity_col: str, ts_col: str, order_col: str,
                   state_col: str, obs_col: str,
                   alpha: int = 1) -> DataFrame:
    """Most likely state path per ``score`` entity under the HMM
    trained on ``train`` (see :func:`train_hmm_counts`).

    The lattice fold: acc = array of K structs (lp, path); step t
    computes, for each state s, ``max_{s'} (lp[s'] + lnA[s'][s])`` by
    a strict-max scan in ascending s' (ties to the smaller index),
    adds ``lnB[s][o_t]`` and extends the winner's path.  All model
    terms are literal doubles (exact functions of integer counts), the
    scan order is pinned, so the SQL oracle's recursive-CTE replay is
    bit-identical.  Observation symbols unseen in training are clamped
    into the smoothed emission row (they must be < n_obs; quantize
    upstream).

    One entity exchange (collect the ordered obs array per entity) +
    a map-only fold over K² literal terms per step.  Returns
    (entity, n, best_logprob, path) with path = '-'-joined decoded
    state indices into the sorted state vocabulary.
    """
    states, n_obs, init, trans, emit = train_hmm_counts(
        train, entity_col, ts_col, order_col, state_col, obs_col,
        alpha)
    k = len(states)
    seq = (score.select(
        F.col(entity_col).alias("entity"),
        ts_micros(ts_col).alias("__t"),
        F.col(order_col).cast("long").alias("__o"),
        F.col(obs_col).cast("long").alias("obs"))
        .groupBy("entity")
        .agg(F.count(F.lit(1)).alias("n"),
             F.array_sort(F.collect_list(F.struct(
                 F.col("__t").alias("t"), F.col("__o").alias("o"),
                 F.col("obs").alias("obs")))).alias("series")))
    obs_arr = F.transform("series", lambda s: s["obs"].cast("int"))

    def emit_at(s: int, o_col):
        # literal emission row lookup (element_at is 1-based)
        row = F.array(*[F.lit(float(v)) for v in emit[s]])
        return F.element_at(row, o_col + 1)

    zero = F.array(*[
        F.struct(
            (F.lit(float(init[s]))
             + emit_at(s, F.element_at(obs_arr, 1))).alias("lp"),
            F.lit(str(s)).alias("path"))
        for s in range(k)
    ])
    rest = F.slice(obs_arr, 2, F.greatest(F.size(obs_arr) - 1,
                                          F.lit(0)))

    def step(acc, o):
        outs = []
        for s in range(k):
            best_lp = acc[0]["lp"] + F.lit(float(trans[0][s]))
            best_path = acc[0]["path"]
            for sp in range(1, k):
                cand = acc[sp]["lp"] + F.lit(float(trans[sp][s]))
                take = cand > best_lp          # strict: ties keep lower
                best_path = F.when(take, acc[sp]["path"]) \
                             .otherwise(best_path)
                best_lp = F.when(take, cand).otherwise(best_lp)
            outs.append(F.struct(
                (best_lp + emit_at(s, o)).alias("lp"),
                F.concat(best_path, F.lit("-" + str(s)))
                .alias("path")))
        return F.array(*outs)

    fin = F.aggregate(rest, zero, step)
    best_lp = F.col("fin")[0]["lp"]
    best_path = F.col("fin")[0]["path"]
    for s in range(1, k):
        cand_lp = F.col("fin")[s]["lp"]
        take = cand_lp > best_lp
        best_path = F.when(take, F.col("fin")[s]["path"]) \
                     .otherwise(best_path)
        best_lp = F.when(take, cand_lp).otherwise(best_lp)
    return (seq.withColumn("fin", fin)
            .select("entity", F.col("n").cast("long").alias("n"),
                    best_lp.alias("best_logprob"),
                    best_path.alias("path")))


def markov_entropy_rate(df: DataFrame, entity_col: str,
                        order_col: str, state_col: str) -> DataFrame:
    """Empirical entropy rate of the first-order Markov chain over
    observed transitions — "how predictable is the next state given
    this one", the sequence-compressibility number next to the
    transition matrix:

        H = Σ_ij (c_ij/N) · ln(c_i/c_ij)    (nats/transition)

    with c_ij the exact transition counts pooled over entities
    (lag within entity in ``order_col`` order), c_i the from-state
    marginals and N total transitions.  The fold runs in sorted
    (from, to) cell order — integer inputs, one float fold, the
    engine's entropy convention.  Conditional entropy of a fitted
    chain, not the source's true rate (documented).  Returns one
    row: (n_transitions, n_states, entropy_rate)."""
    w = Window.partitionBy(entity_col).orderBy(order_col)
    s = F.col(state_col)
    pairs = (df.select(s.alias("to"),
                       F.lag(s).over(w).alias("from"))
               .filter(F.col("from").isNotNull()))
    cells = pairs.groupBy("from", "to").agg(
        F.count(F.lit(1)).alias("c"))
    wf = Window.partitionBy("from")
    cells = cells.withColumn("cf", F.sum("c").over(wf))
    agg = cells.agg(
        F.sum("c").alias("n"),
        F.countDistinct("from").alias("n_states"),
        F.array_sort(F.collect_list(F.struct(
            F.col("from").alias("f"), F.col("to").alias("t"),
            F.col("c").alias("c"), F.col("cf").alias("cf"))))
        .alias("cl"))
    nd = F.col("n").cast("double")
    h = F.aggregate(
        "cl", F.lit(0.0),
        lambda acc, e: acc + (e["c"].cast("double") / nd)
        * F.log(e["cf"].cast("double") / e["c"].cast("double")))
    return agg.select(
        F.col("n").cast("long").alias("n_transitions"),
        F.col("n_states").cast("long").alias("n_states"),
        h.alias("entropy_rate"))


def seq_pair_support(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    order_col: str,
    state_col: str,
) -> DataFrame:
    """Sequential-pattern pair support — "users who do A tend to do B
    AFTERWARD" (the temporal version of :mod:`..cooccur`'s
    association rules, GSP's length-2 core): for every ordered state
    pair (a, b), over the entities that exhibit BOTH states, how
    often does a's FIRST occurrence strictly precede b's?

    Per (entity, state) the first occurrence is the struct-min of
    exact (ts_us, order) — deterministic under ties; the bounded
    per-entity state set (k states → ≤ k(k−1) pairs per entity)
    self-joins within the entity, then one exact-count aggregate per
    ordered pair.  support = n_a_before_b / n_both is the one
    division.  Ties (same microsecond AND same order is impossible —
    order is unique) cannot occur; same-timestamp different-order
    rows resolve by the order tiebreaker (documented).  Returns one
    row per ordered pair with n_both > 0: (state_a, state_b, n_both,
    n_a_first, support)."""
    us = ts_micros(ts_col)
    firsts = (df.select(F.col(entity_col).alias("e"),
                        F.col(state_col).alias("s"),
                        us.alias("us"),
                        F.col(order_col).cast("long").alias("o"))
              .groupBy("e", "s")
              .agg(F.min(F.struct(F.col("us").alias("us"),
                                  F.col("o").alias("o")))
                   .alias("f")))
    a = firsts.select("e", F.col("s").alias("sa"),
                      F.col("f").alias("fa"))
    b = firsts.select("e", F.col("s").alias("sb"),
                      F.col("f").alias("fb"))
    pairs = a.join(b, "e").filter(F.col("sa") != F.col("sb"))
    before = ((F.col("fa")["us"] < F.col("fb")["us"])
              | ((F.col("fa")["us"] == F.col("fb")["us"])
                 & (F.col("fa")["o"] < F.col("fb")["o"])))
    out = pairs.groupBy("sa", "sb").agg(
        F.count(F.lit(1)).alias("n_both"),
        F.sum(before.cast("long")).alias("n_a_first"))
    return out.select(
        F.col("sa").alias("state_a"), F.col("sb").alias("state_b"),
        F.col("n_both").cast("long").alias("n_both"),
        F.col("n_a_first").cast("long").alias("n_a_first"),
        (F.col("n_a_first").cast("double")
         / F.col("n_both").cast("double")).alias("support"))
