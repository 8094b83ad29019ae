"""Ranking-quality evaluation: NDCG@k and pairwise preference tables.

The grading harness of a reranking stack (bi-encoder retriever vs
cross-encoder reranker): ``ndcg_at_k`` scores one ranker against graded
relevance with the standard position-discounted metric (Järvelin &
Kekäläinen, TOIS 2002), and ``pairwise_preferences`` compares two
rankers head-to-head on every labeled preference pair — the
cross-encoder evaluation view, where a pair (i, j) with rel_i > rel_j
is "won" by the ranker that scores i above j.

Reference scope note: hisel (`/root/reference`) contains no ranking
evaluation; these operators belong to the grafted large-scale
training-data/retrieval pipeline layer (SURVEY §2), same bit-exactness
conventions as operators/evaluate.py.

Determinism conventions (the repo-wide oracle discipline):
* gains ``2^rel − 1`` are exact integers (``shiftleft``), relevance
  must be a small non-negative integer grade;
* ranks come from ``row_number`` over (score DESC, doc ASC) — unique
  tiebreaker, so the ranking is reproducible on any layout;
* the DCG float fold runs over a SORTED (rank, gain) struct list via
  ``F.aggregate`` — the same fixed ln-term order the DuckDB oracle
  replays with ``list_sort`` + ``list_reduce``;
* pairwise counts are exact integers from a within-query self-join
  (bounded by the per-query candidate list, never corpus x corpus).
"""
from __future__ import annotations



from pyspark.sql import DataFrame, Window, functions as F


def _dcg_fold(struct_col):
    """Ordered fold Σ gain / (ln(rank+1)/ln 2) over a sorted
    (rank, gain) struct list — fixed term order, identical expression
    tree in the SQL oracle."""
    return F.aggregate(
        F.sort_array(struct_col),
        F.lit(0.0),
        lambda acc, s: acc + s["gain"].cast("double")
        / (F.log(s["rk"].cast("double") + F.lit(1.0))
           / F.log(F.lit(2.0))))


def ndcg_at_k(
    df: DataFrame,
    query_col: str,
    doc_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """NDCG@k per query: DCG of the ranker's top-k (ranked by score
    DESC, doc ASC) over the ideal DCG of the same candidate set
    (ranked by relevance DESC, doc ASC), with exponential gains
    ``2^rel − 1``.

    Exactness: gains are exact int64 (``rel`` must be an integer grade
    0..62), positions are ``row_number`` with the unique doc
    tiebreaker, and both DCG folds add their ln-discounted terms in
    ascending-rank order — bit-reproducible across layouts and
    replayed term-for-term by the oracle.  Queries whose candidates
    are all irrelevant (IDCG = 0) get NULL ndcg rather than a silent
    0/0.

    Plan shape: ONE query-key exchange serves both ranking windows and
    the final aggregate (same-cluster windows collapse into one
    WindowExec chain); no joins.  Returns one row per query:
    (query, n_docs, dcg, idcg, ndcg).
    """
    base = df.select(
        F.col(query_col).alias("query"),
        F.col(doc_col).cast("long").alias("doc"),
        F.col(score_col).alias("score"),
        F.col(rel_col).cast("long").alias("rel"))
    gain = (F.expr("shiftleft(CAST(1 AS BIGINT), CAST(rel AS INT))")
            - F.lit(1)).alias("gain")
    w_sys = Window.partitionBy("query").orderBy(
        F.col("score").desc(), F.col("doc").asc())
    w_ideal = Window.partitionBy("query").orderBy(
        F.col("rel").desc(), F.col("doc").asc())
    ranked = base.select(
        "query", "doc", gain,
        F.row_number().over(w_sys).alias("rk_sys"),
        F.row_number().over(w_ideal).alias("rk_ideal"))
    kk = int(k)
    agg = ranked.groupBy("query").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.collect_list(
            F.when(F.col("rk_sys") <= kk,
                   F.struct(F.col("rk_sys").alias("rk"),
                            F.col("gain").alias("gain")))
        ).alias("sys_terms"),
        F.collect_list(
            F.when(F.col("rk_ideal") <= kk,
                   F.struct(F.col("rk_ideal").alias("rk"),
                            F.col("gain").alias("gain")))
        ).alias("ideal_terms"))
    dcg = _dcg_fold(F.col("sys_terms"))
    idcg = _dcg_fold(F.col("ideal_terms"))
    return agg.select(
        "query", "n_docs",
        dcg.alias("dcg"),
        idcg.alias("idcg"),
        F.when(idcg > 0, dcg / idcg).alias("ndcg"))


def pairwise_preferences(
    df: DataFrame,
    query_col: str,
    doc_col: str,
    rel_col: str,
    score_a_col: str,
    score_b_col: str,
) -> DataFrame:
    """Head-to-head pairwise preference table for two rankers over the
    same labeled candidates — the cross-encoder-reranker evaluation
    view: for every within-query pair with rel_i > rel_j (document i
    is preferred), each ranker is graded on whether it scores i
    strictly above j.

    Exact integer counts per query:
      n_pref_pairs  labeled preference pairs (rel_i > rel_j)
      a_correct / b_correct   pairs ordered correctly (strict >)
      a_tied / b_tied         pairs the ranker leaves tied
      both_correct            pairs both rankers get right
      (incorrect = n_pref_pairs − correct − tied)

    Plan shape: one within-query self-join on the candidate lists
    (cost Σ_q n_q² — bounded by the evaluation pool per query, the
    standard contract of pairwise ranking metrics; never corpus x
    corpus) with the strict i≠j, rel_i > rel_j predicate, then one
    exact aggregation.  Returns one row per query.
    """
    base = df.select(
        F.col(query_col).alias("query"),
        F.col(doc_col).cast("long").alias("doc"),
        F.col(rel_col).cast("long").alias("rel"),
        F.col(score_a_col).alias("sa"),
        F.col(score_b_col).alias("sb"))
    lhs = base.select("query", F.col("doc").alias("doc_i"),
                      F.col("rel").alias("rel_i"),
                      F.col("sa").alias("sa_i"),
                      F.col("sb").alias("sb_i"))
    rhs = base.select("query", F.col("doc").alias("doc_j"),
                      F.col("rel").alias("rel_j"),
                      F.col("sa").alias("sa_j"),
                      F.col("sb").alias("sb_j"))
    pairs = (lhs.join(rhs, "query")
             .filter(F.col("rel_i") > F.col("rel_j")))
    a_ok = (F.col("sa_i") > F.col("sa_j")).cast("long")
    b_ok = (F.col("sb_i") > F.col("sb_j")).cast("long")
    a_tie = (F.col("sa_i") == F.col("sa_j")).cast("long")
    b_tie = (F.col("sb_i") == F.col("sb_j")).cast("long")
    return (pairs.groupBy("query").agg(
        F.count(F.lit(1)).alias("n_pref_pairs"),
        F.sum(a_ok).alias("a_correct"),
        F.sum(a_tie).alias("a_tied"),
        F.sum(b_ok).alias("b_correct"),
        F.sum(b_tie).alias("b_tied"),
        F.sum(a_ok * b_ok).alias("both_correct")))


def mrr_at_k(
    df: DataFrame,
    query_col: str,
    doc_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """Reciprocal rank + hit@k per query — the recall-oriented
    companion of :func:`ndcg_at_k` (mean the ``rr`` column for MRR@k).

    Ranking and tie rule are identical to ndcg_at_k (score DESC, doc
    ASC via row_number — unique, layout-stable).  ``first_rel_rank``
    is the rank of the first candidate with ``rel`` > 0 inside the
    top k (NULL when none); ``rr`` is its exact reciprocal ``1.0 /
    rank`` (0.0 on a miss — the standard MRR convention); ``hit`` is
    the boolean.  One query-key exchange serves the window and the
    aggregate; all decisions are integer comparisons and the one
    float is a single mirrored division.
    """
    base = df.select(
        F.col(query_col).alias("query"),
        F.col(doc_col).cast("long").alias("doc"),
        F.col(score_col).alias("score"),
        F.col(rel_col).cast("long").alias("rel"))
    w_sys = Window.partitionBy("query").orderBy(
        F.col("score").desc(), F.col("doc").asc())
    ranked = base.select(
        "query", "rel",
        F.row_number().over(w_sys).cast("long").alias("rk"))
    kk = int(k)
    agg = ranked.groupBy("query").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(F.when((F.col("rel") > 0) & (F.col("rk") <= kk),
                     F.col("rk"))).alias("first_rel_rank"))
    return agg.select(
        "query", "n_docs", "first_rel_rank",
        F.when(F.col("first_rel_rank").isNotNull(),
               F.lit(1.0) / F.col("first_rel_rank").cast("double"))
        .otherwise(F.lit(0.0)).alias("rr"),
        F.col("first_rel_rank").isNotNull().alias("hit"))


def err_rbp(
    df: DataFrame,
    query_col: str,
    doc_col: str,
    score_col: str,
    rel_col: str,
    max_grade: int = 3,
    k: int = 10,
) -> DataFrame:
    """Expected reciprocal rank (Chapelle et al., CIKM 2009) and
    rank-biased precision (Moffat & Zobel, TOIS 2008) per query — the
    cascade-model and persistence-model graded companions of
    :func:`ndcg_at_k`, evaluated over the top-k by (score DESC, doc
    ASC):

        ERR  = Σ_r (1/r)·R_r·Π_{i<r}(1−R_i),  R_r = (2^rel−1)/2^mg
        RBP  = (1−p)·Σ_r p^{r−1}·[rel_r > 0]   with p = 4/5

    EXACT-ARITHMETIC FORM (no libm anywhere): R and 1−R are dyadic
    rationals, so with integer gains g = 2^rel−1 the cascade prefix
    product is the exact int64 Π_{i<r}(2^mg − g_i) over the ranked
    prefix (≤ 2^{mg·(k−1)}, int64-safe for mg·k ≤ 62) and

        ERR term_r = g_r · prefnum_r / (r · 2^{mg·r})
        RBP term_r = [rel_r>0] · 4^{r−1} / 5^r

    — each term ONE division of exact integers, powers taken from
    shared literal tables (no pow()), terms folded in ascending-rank
    order.  Prefix products come from an index-aware transform +
    slice + integer fold over the sorted (rank, gain) list — O(k²)
    per query on a ≤k list.  ``rel`` must be an integer grade
    0..max_grade.  Queries with no candidates in the top-k cannot
    occur (k ≥ 1); all-irrelevant queries get ERR = RBP = 0.0 (a
    defined cascade value, unlike NDCG's 0/0).  Returns one row per
    query: (query, n_docs, err, rbp)."""
    mg = int(max_grade)
    kk = int(k)
    if mg * kk > 62:
        raise ValueError(f"mg*k = {mg * kk} > 62 overflows the exact "
                         "int64 cascade numerator")
    pow2mg = [2 ** (mg * r) for r in range(1, kk + 1)]   # 2^{mg·r}
    pow4 = [4 ** (r - 1) for r in range(1, kk + 1)]
    pow5 = [5 ** r for r in range(1, kk + 1)]
    base = df.select(
        F.col(query_col).alias("query"),
        F.col(doc_col).cast("long").alias("doc"),
        F.col(score_col).alias("score"),
        F.col(rel_col).cast("long").alias("rel"))
    gain = (F.expr("shiftleft(CAST(1 AS BIGINT), CAST(rel AS INT))")
            - F.lit(1)).alias("gain")
    w_sys = Window.partitionBy("query").orderBy(
        F.col("score").desc(), F.col("doc").asc())
    ranked = base.select(
        "query", "doc", gain,
        F.row_number().over(w_sys).alias("rk"))
    agg = ranked.groupBy("query").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.array_sort(F.collect_list(
            F.when(F.col("rk") <= kk,
                   F.struct(F.col("rk").alias("rk"),
                            F.col("gain").alias("gain")))))
        .alias("terms"))
    two_mg = 2 ** mg
    a2mg = F.array(*[F.lit(v).cast("long") for v in pow2mg])
    a4 = F.array(*[F.lit(v).cast("long") for v in pow4])
    a5 = F.array(*[F.lit(v).cast("long") for v in pow5])
    # prefnum_j = Π_{i<j} (2^mg − gain_i), exact int64 over the slice
    prefs = F.transform(
        F.col("terms"),
        lambda s, j: F.aggregate(
            F.slice(F.col("terms"), F.lit(1), j),
            F.lit(1).cast("long"),
            lambda acc, t: acc * (F.lit(two_mg) - t["gain"])))
    with_p = agg.withColumn("prefs", prefs)
    err = F.aggregate(
        F.zip_with(F.col("terms"), F.col("prefs"),
                   lambda t, p: F.struct(t["rk"].alias("rk"),
                                         t["gain"].alias("gain"),
                                         p.alias("pref"))),
        F.lit(0.0),
        lambda acc, s: acc
        + (s["gain"] * s["pref"]).cast("double")
        / (s["rk"].cast("long")
           * F.element_at(a2mg, s["rk"].cast("int")))
        .cast("double"))
    rbp = F.aggregate(
        F.col("terms"), F.lit(0.0),
        lambda acc, s: acc
        + F.when(s["gain"] > 0,
                 F.element_at(a4, s["rk"].cast("int")).cast("double")
                 / F.element_at(a5, s["rk"].cast("int"))
                 .cast("double")).otherwise(F.lit(0.0)))
    return with_p.select(
        "query", "n_docs", err.alias("err"), rbp.alias("rbp"))


def bradley_terry(
    df: DataFrame,
    winner_col: str,
    loser_col: str,
    iterations: int = 5,
    scale: int = 1_000_000_000,
    term_scale: int = 10 ** 14,
    driver_pair_cap: int = 2_000_000,
) -> DataFrame:
    """Bradley–Terry strength ratings from pairwise outcomes (the
    preference-arena model: P(i beats j) = p_i/(p_i+p_j)) fitted by
    Hunter's (2004) MM iteration in FIXED-POINT INTEGER arithmetic —
    the :func:`..graph.pagerank`/`hits` oracle discipline applied to
    the model behind every "which caption/answer wins" preference
    dataset:

        D_i  = Σ_j (c_ij · S) DIV max(p_i + p_j, 1)
        raw_i = (W_i · S) DIV max(D_i, 1)
        p'_i  = raw_i DIV max(Σraw DIV (k·scale), 1)   (L1 renorm)

    with c_ij the games played, W_i the wins, and every step exact
    BIGINT arithmetic — bit-identical across partitionings and
    engines; the oracle unrolls the same iterations as MATERIALIZED
    CTEs (the rating table is referenced twice per round — once per
    side of the pair join — which would inline exponentially
    otherwise).

    Execution (round 5): the pairwise COUNT table — not the games —
    is the model state, and after the one distributed aggregation
    pass it has at most |players|² rows.  When it fits under
    ``driver_pair_cap`` the MM rounds run vectorized on the driver
    (NumPy int64, the identical integer formulas → identical
    ratings), eliminating the per-round job-scheduling cost that
    dominated the wall at bench scale (5 rounds × join+agg+
    localCheckpoint ≈ 5-6 s for a 7-player arena).  Above the cap —
    a 10⁶-player arena whose pair table is genuinely big — the
    rounds run distributed with per-round ``localCheckpoint``
    truncating the doubling lineage (the kcore/label_prop lesson).

    Overflow discipline (round 5, both paths, mirrored by the
    HUGEINT oracle): the c·S and W·S PRODUCTS multiply in
    DECIMAL(38,0) / arbitrary-precision ints — an int64 multiply
    wraps silently past ~9·10⁴ games per pair at S = 1e14, a bound
    the sf1 gate actually crossed — while every quotient is back
    under int64 by construction.  The driver path runs in Python ints
    whenever a per-player sum of c·S or the total W·S could reach
    2^62, so its int64 sums cannot wrap either.  Players in no
    decided game are absent.  Returns (player, rating, wins, games)."""
    s = int(term_scale)
    k_scale = int(scale)
    w = (df.groupBy(F.col(winner_col).alias("i"),
                    F.col(loser_col).alias("j"))
         .agg(F.count(F.lit(1)).alias("w")))
    games = (w.select("i", "j", "w")
             .unionAll(w.select(F.col("j").alias("i"),
                                F.col("i").alias("j"),
                                F.lit(0).cast("long").alias("w")))
             .groupBy("i", "j")
             .agg(F.sum("w").alias("wij")))
    sym = (games.alias("a")
           .join(games.alias("b"),
                 (F.col("a.i") == F.col("b.j"))
                 & (F.col("a.j") == F.col("b.i")))
           .select(F.col("a.i").alias("i"), F.col("a.j").alias("j"),
                   (F.col("a.wij") + F.col("b.wij")).alias("c")))
    wins = games.groupBy("i").agg(F.sum("wij").alias("wins"),
                                  F.count(F.lit(1)).alias("deg"))
    tot_games = sym.groupBy("i").agg(F.sum("c").alias("games"))
    players = wins.join(tot_games, "i").select(
        "i", "wins", "games")

    if driver_pair_cap and (sym.limit(driver_pair_cap + 1).count()
                            <= driver_pair_cap):
        return _bt_driver_rounds(df.sparkSession, sym, players,
                                 int(iterations), s, k_scale)
    ratings = players.select(
        "i", F.lit(k_scale).cast("long").alias("p"))
    for _ in range(int(iterations)):
        pi = ratings.select(F.col("i").alias("pi_i"),
                            F.col("p").alias("p_i"))
        pj = ratings.select(F.col("i").alias("pj_i"),
                            F.col("p").alias("p_j"))
        # the c*S / wins*S products multiply in DECIMAL(38,0): at
        # heavy-arena scale (sf1: 1.6e5 games per pair) they exceed
        # int64 and a long multiply would wrap silently — the DuckDB
        # oracle caught exactly this via a loud HUGEINT overflow.
        # The quotients are back under int64 by construction.
        d = (sym.join(pi, sym.i == F.col("pi_i"))
                .join(pj, sym.j == F.col("pj_i"))
                .select("i",
                        F.expr(f"CAST((CAST(c AS DECIMAL(38,0)) * {s})"
                               f" DIV greatest(p_i + p_j, 1L)"
                               f" AS BIGINT)")
                        .alias("t"))
                .groupBy("i").agg(F.sum("t").alias("d")))
        raw = (players.join(d, "i")
               .select("i",
                       F.expr(f"CAST((CAST(wins AS DECIMAL(38,0))"
                              f" * {s}) DIV greatest(d, 1L)"
                              f" AS BIGINT)")
                       .alias("raw")))
        raw = raw.withColumn(
            "tot", F.sum("raw").over(
                Window.partitionBy()))
        raw = raw.withColumn(
            "k", F.count(F.lit(1)).over(Window.partitionBy()))
        ratings = raw.select(
            "i",
            F.expr(f"raw DIV greatest(tot DIV (k * {k_scale}L), 1L)")
            .alias("p")).localCheckpoint()
    return (players.join(ratings, "i")
            .select(F.col("i").alias("player"),
                    F.col("p").cast("long").alias("rating"),
                    F.col("wins").cast("long").alias("wins"),
                    F.col("games").cast("long").alias("games")))


def _bt_driver_rounds(spark, sym: DataFrame, players: DataFrame,
                      iterations: int, s: int, k_scale: int
                      ) -> DataFrame:
    """MM rounds on the collected pair-count table — the identical
    int64 formulas as the distributed loop (DIV == floor division on
    the nonnegative operands used here), vectorized with factorized
    player ids; one job instead of 5 x (join + agg + checkpoint)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    p_pdf = players.toPandas()
    out_schema = T.StructType([
        T.StructField("player", players.schema["i"].dataType),
        T.StructField("rating", T.LongType()),
        T.StructField("wins", T.LongType()),
        T.StructField("games", T.LongType()),
    ])
    if not len(p_pdf):
        return spark.createDataFrame([], out_schema)
    s_pdf = sym.toPandas()
    codes = pd.Series(np.arange(len(p_pdf)), index=p_pdf["i"])
    i_idx = codes[s_pdf["i"]].to_numpy()
    j_idx = codes[s_pdf["j"]].to_numpy()
    c = s_pdf["c"].to_numpy(np.int64)
    wins = p_pdf["wins"].to_numpy(np.int64)
    k = len(p_pdf)
    # D_i <= S * sum_j c_ij and sum(raw) <= S * sum(W): bound the
    # per-player sums and the total in Python ints (each also bounds
    # its single products, as c and W are nonnegative)
    c_per_player = [0] * k
    for i_t, c_t in zip(i_idx.tolist(), c.tolist()):
        c_per_player[i_t] += c_t
    big = (max(c_per_player) * s >= 2 ** 62
           or sum(wins.tolist()) * s >= 2 ** 62)
    if big:
        # heavy arena: the int64 sums could wrap — run the identical
        # formulas in arbitrary-precision Python ints (matches the
        # distributed path's DECIMAL(38,0) products)
        ci = [int(v) for v in c]
        ii = [int(v) for v in i_idx]
        jj = [int(v) for v in j_idx]
        wl = [int(v) for v in wins]
        pl = [k_scale] * k
        for _ in range(iterations):
            dl = [0] * k
            for t_i in range(len(ci)):
                dl[ii[t_i]] += ((ci[t_i] * s)
                                // max(pl[ii[t_i]] + pl[jj[t_i]], 1))
            raw = [(wl[x] * s) // max(dl[x], 1) for x in range(k)]
            tot = sum(raw)
            den = max(tot // (k * k_scale), 1)
            pl = [r // den for r in raw]
        p = np.array(pl, dtype=np.int64)
    else:
        p = np.full(k, k_scale, dtype=np.int64)
        for _ in range(iterations):
            t = (c * s) // np.maximum(p[i_idx] + p[j_idx], 1)
            d = np.zeros(k, dtype=np.int64)
            np.add.at(d, i_idx, t)
            raw = (wins * s) // np.maximum(d, 1)
            tot = int(raw.sum())
            p = raw // max(tot // (k * k_scale), 1)
    res = pd.DataFrame({"player": p_pdf["i"],
                        "rating": p,
                        "wins": wins,
                        "games": p_pdf["games"].to_numpy(np.int64)})
    return spark.createDataFrame(res, out_schema)
