"""No-Spark verification twins of the pinned gate queries.

Each ``twin_<name>(sf_dir)`` recomputes the corresponding
``__spark_entry__`` gate query in a SINGLE pandas/NumPy process —
no SparkSession anywhere — and returns a DataFrame with the same
columns and values.  The twins exist to make the pin family
scale-portable: ``tools/pin_all.py`` regenerates the pinned oracles
per scale factor FROM A DOUBLE-CHECKED ENGINE RUN and then asserts
the twin reproduces it, so every pin carries two independent pieces
of evidence at the sf it is pinned for:

1. layout determinism — the Spark engine run is repeated under a
   different parallelism/shuffle layout and must be bit-identical;
2. twin agreement — this module's single-process re-execution (same
   parity-tested NumPy math cores, but pandas grouping/folding
   instead of Spark shuffles/UDFs) must match: discrete outputs
   (selections, candidate ids, cluster/bin assignments) EXACTLY and
   float outputs representation-exactly.

What the twin verifies is the DISTRIBUTION layer (batching, shuffle
grouping, reduce fold order, standardization aggregates) — the math
cores themselves (``kernels.py``, ``lar.py``, ``permutohedron.py``,
k-means) are verified separately by pytest parity against the
reference implementation imported in place (``tests/refshim.py``).

Replication contracts relied on (each calibrated by
``tests/test_twins.py`` against a live session):

* ``F.xxhash64`` == ``hiselspark.sparkhash`` (bit-exact, all types);
* ``F.sum`` over doubles == a sequential left fold in parquet row
  order (the pruned numeric frames read as ONE partition at every
  tested sf — asserted at pin time);
* ``F.stddev_pop`` == Spark's central-moment update
  ``m2 += delta * (delta - deltaN)`` replayed in row order;
* SQL ``aggregate(zip_with(...), 0.0, acc+x)`` (the engine's dot
  product) == ``np.cumsum(products)[-1]`` (sequential accumulation);
* ``F.round(x, 6)`` == ``Decimal(x).quantize(1e-6, ROUND_HALF_UP)``;
* ``F.expr("percentile(c, p)")`` == the weighted two-sided
  interpolation ``v[lo]*(hi-pos) + v[hi]*(pos-lo)`` on sorted values.
"""
from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from . import lar, permutohedron
from .kernels import KernelKind, batch_sufficient_stats
from .sparkhash import xxhash64

# ---------------------------------------------------------------------------
# replication primitives
# ---------------------------------------------------------------------------


def spark_round(v: Optional[float], scale: int = 6) -> Optional[float]:
    """Replicates ``F.round(double, scale)``: Spark goes through
    ``BigDecimal.valueOf(double)`` — i.e. the SHORTEST decimal
    representation of the double (``Double.toString``), not its exact
    binary expansion — then setScale HALF_UP.  ``repr`` gives the
    same shortest-uniquely-identifying digits, so
    ``Decimal(repr(v))`` reproduces the JVM's quantization (e.g.
    0.1234565, whose exact binary value is 0.12345649999..., rounds
    UP to 0.123457 in both)."""
    if v is None:
        return None
    f = float(v)
    if math.isnan(f) or math.isinf(f):
        return f
    out = float(Decimal(repr(f)).quantize(Decimal(1).scaleb(-scale),
                                          rounding=ROUND_HALF_UP))
    # BigDecimal has no negative zero: a negative value rounding to
    # zero comes back +0.0 from the JVM
    return out + 0.0 if out == 0.0 else out


def spark_round_arr(a: np.ndarray, scale: int = 6) -> np.ndarray:
    return np.array([spark_round(float(v), scale) for v in a],
                    dtype=np.float64)


def spark_sum(arr: np.ndarray) -> float:
    """``F.sum`` over doubles: sequential left fold in row order."""
    s = 0.0
    for v in arr:
        s += float(v)
    return s


def spark_stddev_pop(arr: np.ndarray) -> float:
    """``F.stddev_pop``: Spark's CentralMomentAgg update replayed in
    row order (``m2 += delta * (delta - deltaN)``)."""
    n = 0
    avg = 0.0
    m2 = 0.0
    for v in arr:
        v = float(v)
        n += 1
        delta = v - avg
        delta_n = delta / n
        avg += delta_n
        m2 += delta * (delta - delta_n)
    return math.sqrt(m2 / n) if n else float("nan")


def spark_percentile(values: np.ndarray, p: float) -> float:
    """``percentile(col, p)`` (exact, interpolated): NULLs ignored by
    the caller; weighted two-sided interpolation on sorted values."""
    v = np.sort(np.asarray(values, dtype=np.float64))
    n = len(v)
    pos = p * (n - 1)
    lo = int(math.floor(pos))
    hi = int(math.ceil(pos))
    if lo == hi:
        return float(v[lo])
    return float(v[lo] * (hi - pos) + v[hi] * (pos - lo))


def fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise replication of the engine's SQL dot product
    ``aggregate(zip_with(a, b, x*y), 0.0, acc+x)``: elementwise
    products then SEQUENTIAL accumulation (``np.cumsum`` is defined as
    the running left fold, unlike ``np.sum``'s pairwise tree).
    ``a``/``b`` are (n, d) / (n, d) or (d,) broadcastable."""
    prod = np.asarray(a, dtype=np.float64) * np.asarray(b, dtype=np.float64)
    if prod.ndim == 1:
        prod = prod[None, :]
    return np.cumsum(prod, axis=1)[:, -1]


def hash_rows(cols: Sequence[np.ndarray], types: Sequence[str],
              lead: Sequence[Tuple[object, str]] = ()) -> np.ndarray:
    """Vectorized-ish ``xxhash64(*lead, *cols)`` per row -> int64
    array.  ``lead`` holds literal (value, type) pairs hashed before
    the per-row columns (e.g. a seed literal)."""
    n = len(cols[0]) if cols else 0
    out = np.empty(n, dtype=np.int64)
    lead_vals = [v for v, _ in lead]
    lead_types = [t for _, t in lead]
    all_types = list(lead_types) + list(types)
    for i in range(n):
        vals = lead_vals + [c[i] for c in cols]
        out[i] = xxhash64(vals, all_types)
    return out


def plus_zero(df: pd.DataFrame) -> pd.DataFrame:
    """The gate's ``-0.0`` chokepoint (``_nz_df``): float columns get
    ``+ 0.0`` so -0.0 normalizes to +0.0."""
    out = df.copy()
    for c in out.columns:
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c] + 0.0
    return out


# ---------------------------------------------------------------------------
# table loading (pandas row order == Spark single-partition scan order)
# ---------------------------------------------------------------------------


def load_embeddings(sf_dir: str) -> Tuple[pd.DataFrame, np.ndarray]:
    """(frame with vec_id/label, (n, 64) float64 matrix)."""
    pdf = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    return pdf, mat


def load_events(sf_dir: str) -> pd.DataFrame:
    return pd.read_parquet(f"{sf_dir}/events.parquet")


# ---------------------------------------------------------------------------
# the hash-mode HSIC selector twin (selection.py hash mode + run)
# ---------------------------------------------------------------------------


def _twin_standardize(cols: Dict[str, np.ndarray],
                      names: Sequence[str]) -> Dict[str, np.ndarray]:
    """'hisel' standardization replica (``selection.py _moments``, then
    the minibatch UDFs' ``_standardizer``): subtract the column SUM (the
    reference's quirk), divide by ``1e-9 + stddev_pop`` — aggregates
    replayed in row order."""
    out = dict(cols)
    for c in names:
        arr = out[c]
        center = spark_sum(arr)
        scale = spark_stddev_pop(arr)
        scale = scale if scale == scale else 0.0   # NaN -> 0.0 ("or 0.0")
        out[c] = (arr - center) / (1e-9 + scale)
    return out


def _twin_hash_stats(pdf: pd.DataFrame, fc: List[str], tc: List[str],
                     order_col: str, minibatch_size: int,
                     epochs: int = 1, seed: int = 0,
                     x_kind: KernelKind = KernelKind.RBF,
                     y_kind: KernelKind = KernelKind.RBF,
                     cat_split: int = 0
                     ) -> Tuple[np.ndarray, np.ndarray, int, int]:
    """Replica of ``SparkHSICSelector._hash_minibatches`` and
    ``_block_sums``: xxhash64-keyed minibatches, per-minibatch
    ``batch_sufficient_stats`` on rows sorted by (hash, features),
    blocks summed in sorted key order — identical fold order, no
    Spark.  A minibatch under 2 rows adds a zero block here and none
    there: the same bits."""
    d = len(fc)
    dy = len(tc)
    n = len(pdf)
    b = max(8, minibatch_size)
    num_mb = max(1, (n * epochs) // b)
    if epochs > 1:
        rep = pdf.loc[pdf.index.repeat(epochs)].reset_index(drop=True)
        ep = np.tile(np.arange(epochs), n)
        h = hash_rows([ep, rep[order_col].to_numpy()],
                      ["int", "long"], lead=[(seed, "int")])
        work = rep
    else:
        h = hash_rows([pdf[order_col].to_numpy()], ["long"],
                      lead=[(seed, "int")])
        work = pdf.reset_index(drop=True)
    work = work.assign(__h=h, __mb=h % num_mb)

    kw = dict(x_kind=x_kind, y_kind=y_kind, x_bandwidth=1.0,
              y_bandwidth=float(np.sqrt(dy)), cat_split=cat_split,
              dtype=np.float64)
    blocks: Dict[int, Tuple[np.ndarray, np.ndarray, int]] = {}
    for mb, g in work.groupby("__mb"):
        g = g.sort_values(["__h"] + fc)
        if len(g) < 2:
            blocks[int(mb)] = (np.zeros((d, d)), np.zeros(d), 0)
            continue
        bx, by = batch_sufficient_stats(
            g[fc].to_numpy(), g[tc].to_numpy(), **kw)
        blocks[int(mb)] = (bx, by, len(g))

    mbs = sorted(blocks)
    xtx = np.sum(np.stack([blocks[m][0].ravel() for m in mbs]),
                 axis=0).reshape(d, d)
    xty = np.sum(np.stack([blocks[m][1] for m in mbs]), axis=0)
    return (xtx, xty, sum(blocks[m][2] for m in mbs),
            sum(1 for m in mbs if blocks[m][2] >= 2))


def _twin_selector_run(pdf: pd.DataFrame, fc: List[str], tc: List[str],
                       order_col: str, minibatch_size: int,
                       number_of_features: Optional[int],
                       epochs: int = 1, seed: int = 0,
                       threshold: float = 0.01):
    """Replica of ``SparkHSICSelector.run(mode='hash')`` for
    all-continuous features and a continuous target; shares
    ``assemble_selection_result`` with the engine."""
    from .selection import assemble_selection_result
    cols = {c: pdf[c].to_numpy(dtype=np.float64) for c in fc + tc}
    cols[order_col] = pdf[order_col].to_numpy()
    std = _twin_standardize(cols, fc + tc)
    work = pd.DataFrame({c: std[c] for c in fc + tc}
                        | {order_col: cols[order_col]})
    per_outer = [_twin_hash_stats(work, fc, tc, order_col,
                                  minibatch_size, epochs=epochs,
                                  seed=seed)]
    return assemble_selection_result(per_outer, fc, number_of_features,
                                     threshold)


# ---------------------------------------------------------------------------
# twins of the selection-family gate queries
# ---------------------------------------------------------------------------


def twin_hsic_select_embeddings(sf_dir: str) -> pd.DataFrame:
    """Twin of ``q_hsic_select_embeddings`` (`_hsic_emb_rows`)."""
    pdf, mat = load_embeddings(sf_dir)
    d = 64
    wide = pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(),
                         "y": pdf["label"].to_numpy(np.float64)}
                        | {f"e{i}": mat[:, i] for i in range(d)})
    cols = [f"e{i}" for i in range(d)]
    res = _twin_selector_run(wide, cols, ["y"], "vec_id",
                             minibatch_size=100, number_of_features=8)
    order = sorted(cols, key=lambda c: (-float(res.hsic_scores[c]), c))
    rank = {c: i + 1 for i, c in enumerate(order)}
    return plus_zero(pd.DataFrame({
        "feature": cols,
        "hsic_score": [spark_round(float(res.hsic_scores[c]))
                       for c in cols],
        "rank_by_score": np.array([rank[c] for c in cols],
                                  dtype=np.int32),
        "selected": [c in res.features for c in cols]}))


def twin_segmented_select(sf_dir: str) -> pd.DataFrame:
    """Twin of ``q_segmented_select`` (`select_features_by_segment`
    with per-minibatch z-scoring — no Spark float aggregates at
    all)."""
    pdf, mat = load_embeddings(sf_dir)
    d = 16
    fc = [f"e{i}" for i in range(d)]
    wide = pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(),
                         "seg": pdf["vec_id"].to_numpy() % 3,
                         "y": pdf["label"].to_numpy(np.float64)}
                        | {f"e{i}": mat[:, i] for i in range(d)})
    n_minibatches = 4
    k = min(3, d - 1)
    mb = hash_rows([wide["vec_id"].to_numpy()], ["long"],
                   lead=()) % n_minibatches
    wide = wide.assign(__mb=mb)
    kw = dict(x_kind=KernelKind.RBF, y_kind=KernelKind.RBF,
              x_bandwidth=1.0, y_bandwidth=1.0, cat_split=0,
              dtype=np.float64)
    seg_blocks: Dict[int, Dict[int, Tuple]] = {}
    for (seg, m), g in wide.groupby(["seg", "__mb"]):
        g = g.sort_values("vec_id", kind="mergesort")
        x = g[fc].to_numpy(dtype=np.float64)
        y = g[["y"]].to_numpy(dtype=np.float64)
        if len(x) < 8:
            continue
        x = (x - x.mean(axis=0)) / (1e-9 + x.std(axis=0))
        y = (y - y.mean(axis=0)) / (1e-9 + y.std(axis=0))
        bx, by = batch_sufficient_stats(x, y, **kw)
        seg_blocks.setdefault(int(seg), {})[int(m)] = (bx, by, len(x))
    rows = []
    for seg in seg_blocks:
        mbs = sorted(seg_blocks[seg])
        xtx = np.sum(np.stack(
            [seg_blocks[seg][m][0].ravel() for m in mbs]),
            axis=0).reshape(d, d)
        xty = np.sum(np.stack([seg_blocks[seg][m][1] for m in mbs]),
                     axis=0)
        active, _ = lar.solve_gram(xtx, xty, k)
        for rank, idx in enumerate(active[:k], start=1):
            rows.append((int(seg), rank, fc[idx], float(xty[idx])))
    rows.sort(key=lambda t: (t[0], t[1]))
    return plus_zero(pd.DataFrame({
        "segment": np.array([r[0] for r in rows], dtype=np.int64),
        "rank": np.array([r[1] for r in rows], dtype=np.int32),
        "feature": [r[2] for r in rows],
        "hsic_score": [spark_round(r[3]) for r in rows]}))


def _twin_histogram_mi(data: Dict[str, np.ndarray],
                       feature_cols: List[str], target_col: str,
                       n_bins: int, discrete_target: bool) -> pd.Series:
    """Replica of ``preselect.mutual_info`` with exact edges; shares
    ``mi_from_count_frame`` with the engine."""
    from .preselect import mi_from_count_frame
    probs = [i / n_bins for i in range(1, n_bins)]
    to_edge = list(feature_cols) + ([] if discrete_target
                                    else [target_col])
    edges: Dict[str, List[float]] = {}
    for c in to_edge:
        vals = data[c]
        vals = vals[~np.isnan(vals)]
        es = [spark_percentile(vals, p) for p in probs]
        edges[c] = sorted(set(es))

    def bin_of(c: str) -> np.ndarray:
        e = np.array(edges[c], dtype=np.float64)
        return np.searchsorted(e, data[c], side="left").astype(np.int64)

    yb = (data[target_col].astype(np.int64) if discrete_target
          else bin_of(target_col))
    frames = []
    for i, c in enumerate(feature_cols):
        xb = bin_of(c)
        g = (pd.DataFrame({"fi": i, "xb": xb, "yb": yb})
             .groupby(["fi", "xb", "yb"]).size()
             .rename("count").reset_index())
        frames.append(g)
    counts = pd.concat(frames, ignore_index=True)
    mis = mi_from_count_frame(counts, len(feature_cols))
    return pd.Series(mis, index=list(feature_cols))


def twin_mi_preselect(sf_dir: str) -> pd.DataFrame:
    """Twin of ``q_mi_preselect``."""
    pdf, mat = load_embeddings(sf_dir)
    d = 16
    cols = [f"e{i}" for i in range(d)]
    data = {f"e{i}": mat[:, i] for i in range(d)}
    data["y"] = pdf["label"].to_numpy(np.int64).astype(np.float64)
    mis = _twin_histogram_mi(data, cols, "y", n_bins=8,
                             discrete_target=True)
    mx = float(mis.max())
    kept = set()
    if mx > 0:
        norm = mis / mx
        kept = set(norm[norm > 0.05].index)
    return plus_zero(pd.DataFrame({
        "feature": cols,
        "mi": [float(round(float(mis[c]), 6)) for c in cols],
        "kept": [c in kept for c in cols]}))


def twin_greedy_hsic_search(sf_dir: str) -> pd.DataFrame:
    """Twin of ``q_greedy_hsic_search`` (`hsic_search`): seeded
    permutohedron tries scored locally instead of as Spark tasks."""
    from .hsic_search import score_permutation
    from .kernels import double_center, gram_joint
    pdf, mat = load_embeddings(sf_dir)
    d = 16
    cols = [f"e{i}" for i in range(d)] + ["y"]
    arrs = [mat[:, i] for i in range(d)] + [
        pdf["label"].to_numpy(np.float64)]
    h = hash_rows(arrs, ["double"] * len(arrs), lead=[(0, "int")])
    order = np.lexsort(tuple(a for a in reversed(arrs)) + (h,))
    take = order[:2000]
    x = np.stack([a[take] for a in arrs[:d]], axis=1)
    y = arrs[d][take][:, None]
    x_int = np.all(x == np.round(x))
    kind = KernelKind.DELTA if x_int else KernelKind.RBF
    if x_int:
        x = x.astype(np.int64)
    y_int = np.all(y == np.round(y))
    y_kind = KernelKind.DELTA if y_int else KernelKind.RBF
    if y_int:
        y = y.astype(np.int64)
    lc = double_center(gram_joint(y, 1.0, y_kind))

    num_permutations, max_iter, random_state = 16, 2, 0
    active_set = set(range(d))
    chosen = np.array([], dtype=np.int64)
    best_overall = 0.0
    it = 0
    while len(active_set) > 1 and it < max_iter:
        active = np.array(sorted(active_set), dtype=np.int64)
        kk = len(active)
        n_samples = min(max(1, num_permutations // kk), 2 ** kk // kk)
        perms = permutohedron.sample_permutations(
            kk, size=n_samples, random_state=random_state)
        im, sel = 0.0, active
        for p in perms:
            im_, sel_ = score_permutation(x, lc, kind, active[list(p)])
            if im_ > im:
                im, sel = im_, sel_
        if im < 0.1 * best_overall:
            break
        if im > best_overall:
            best_overall = im
        chosen = np.concatenate((chosen, sel))
        active_set -= set(chosen.tolist())
        it += 1
    names = [cols[i] for i in chosen]
    rows = list(enumerate(names)) or [(-1, "none")]
    return pd.DataFrame({
        "pick_order": np.array([r[0] for r in rows], dtype=np.int32),
        "feature": [r[1] for r in rows]})


def _twin_discretise(values: np.ndarray, num_quantiles: int = 10
                     ) -> np.ndarray:
    """Replica of ``categorical.discretise_column``."""
    qs = np.linspace(1.0 / num_quantiles, 1 - 1.0 / num_quantiles,
                     num=num_quantiles)
    valid = values[~np.isnan(values)]
    threshold = float(np.min(valid))
    cuts = []
    for q in qs:
        quant = spark_percentile(valid, float(q))
        if quant > threshold:
            threshold = quant
            cuts.append(threshold)
    lvl = np.zeros(len(values), dtype=np.float64)
    for cut in cuts:
        lvl += (values > cut)
    out = lvl.astype(np.int64)
    return np.where(np.isnan(values), -1, out)  # -1 marks NULL rows


def _twin_categorical_search(feats: Dict[str, np.ndarray],
                             feature_cols: List[str],
                             y: np.ndarray,
                             num_permutations: Optional[int],
                             im_ratio: float, max_iter: int,
                             random_state: Optional[int]) -> List[str]:
    """Replica of ``categorical.categorical_search`` with pandas
    contingency counts; shares ``_ami_from_pairs``."""
    from .categorical import _ami_from_pairs
    d = len(feature_cols)
    if num_permutations is None:
        num_permutations = 1
    mins = {c: int(feats[c].min()) for c in feature_cols}
    cards = {c: int(feats[c].max()) - mins[c] + 1 for c in feature_cols}

    def score_round(tries_cols: List[List[str]]) -> List[List[float]]:
        out = []
        for perm_cols in tries_cols:
            scores = []
            acc = np.zeros(len(y), dtype=np.int64)
            place = 1
            for c in perm_cols:
                acc = acc + (feats[c].astype(np.int64) - mins[c]) * place
                place *= cards[c]
                g = (pd.DataFrame({"code": acc, "y": y})
                     .groupby(["code", "y"]).size().reset_index())
                pairs = [(int(r[0]), int(r[1]), int(r[2]))
                         for r in g.itertuples(index=False)]
                scores.append(_ami_from_pairs(pairs or [(0, 0, 1)]))
            out.append(scores)
        return out

    active_set = set(range(d))
    chosen = np.array([], dtype=np.int64)
    best_overall = 0.0
    it = 0
    while len(active_set) > 0 and it < max_iter:
        active = np.array(sorted(active_set), dtype=np.int64)
        k = len(active)
        n_samples = min(max(1, num_permutations // k),
                        max(2 ** k // k, 1))
        perms = permutohedron.sample_permutations(
            k, size=n_samples, random_state=random_state)
        tries_idx = [active[list(p)] for p in perms]
        tries_cols = [[feature_cols[i] for i in t] for t in tries_idx]
        scores = score_round(tries_cols)
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
    threshold = im_ratio * best_overall
    singles = score_round([[c] for c in feature_cols])
    fallback = [i for i in range(d) if singles[i][0] > threshold]
    final = sorted(set(chosen.tolist()) | set(fallback))
    return [feature_cols[i] for i in final]


def twin_categorical_search(sf_dir: str) -> pd.DataFrame:
    """Twin of ``q_categorical_search``."""
    ev = load_events(sf_dir)
    ts = pd.to_datetime(ev["ts"])
    y_raw = ev["value"].to_numpy(np.float64)
    feats = {
        "hour": ts.dt.hour.to_numpy(np.int64),
        "dow": ((ts.dt.dayofweek.to_numpy(np.int64) + 1) % 7) + 1,
        "user_mod": ev["user_id"].to_numpy(np.int64) % 5,
        "type_len": ev["event_type"].str.len().to_numpy(np.int64),
    }
    y = _twin_discretise(y_raw, 10)
    sel = _twin_categorical_search(
        feats, ["hour", "dow", "user_mod", "type_len"], y,
        num_permutations=None, im_ratio=0.05, max_iter=1,
        random_state=0)
    rows = [(s,) for s in sel] or [("none",)]
    return pd.DataFrame({"feature": [r[0] for r in rows]})


def twin_feature_selection(sf_dir: str) -> pd.DataFrame:
    """Twin of ``q_feature_selection`` (`api.select_features`)."""
    from .selection import SelectionResult  # noqa: F401 (shape doc)
    pdf, mat = load_embeddings(sf_dir)
    vec_id = pdf["vec_id"].to_numpy()
    y = pdf["label"].to_numpy(np.float64)
    e = {f"e{i}": mat[:, i] for i in range(8)}
    c0 = np.floor(mat[:, 0] * 4).astype(np.int64)
    c1 = (vec_id % 5).astype(np.int64)

    continuous = [f"e{i}" for i in range(8)]
    # preselection: histogram MI, exact edges, threshold 1e-5
    data = dict(e)
    data["y"] = y
    mis = _twin_histogram_mi(data, continuous, "y", n_bins=10,
                             discrete_target=False)
    mx = float(mis.max())
    kept: List[str] = []
    if mx > 0:
        norm = mis / mx
        kept = [c for c in continuous if norm[c] > 1e-5]
    if len(kept) >= 2:
        continuous = kept
    cont_features: List[str] = []
    cont_res = None
    if len(continuous) >= 2:
        wide = pd.DataFrame({"vec_id": vec_id, "y": y}
                            | {c: e[c] for c in continuous})
        cont_res = _twin_selector_run(
            wide, continuous, ["y"], "vec_id", minibatch_size=100,
            number_of_features=None, epochs=4, seed=0,
            threshold=0.0075)
        cont_features = cont_res.features
    # categorical: y is double -> discretised target, then AMI search
    yq = _twin_discretise(y, 10)
    cat_features = _twin_categorical_search(
        {"c0": c0, "c1": c1}, ["c0", "c1"], yq,
        num_permutations=10, im_ratio=0.05, max_iter=2,
        random_state=3)
    selected = cat_features + cont_features
    n_cont = len(cont_features)
    reg_last = (round(float(cont_res.reg_curve[-1]), 6)
                if cont_res is not None and len(cont_res.reg_curve)
                else 0.0)
    rows = [(i, f, "categorical" if f in cat_features else "continuous",
             len(selected), n_cont, reg_last)
            for i, f in enumerate(selected)]
    return plus_zero(pd.DataFrame({
        "ord": np.array([r[0] for r in rows], dtype=np.int32),
        "feature": [r[1] for r in rows],
        "origin": [r[2] for r in rows],
        "n_selected": np.array([r[3] for r in rows], dtype=np.int32),
        "n_continuous": np.array([r[4] for r in rows], dtype=np.int32),
        "regcurve_last": [float(r[5]) for r in rows]}))


# ---------------------------------------------------------------------------
# twins of the ANN / projection / semantic-dedup gate queries
# ---------------------------------------------------------------------------


def _twin_trainer_sample(mat: np.ndarray, sample_size: int,
                         seed: int) -> np.ndarray:
    """Replica of ``similarity._trainer_sample``: rows ordered by
    ``xxhash64(lit(seed), vector)`` with lexicographic vector
    tiebreak, top ``sample_size``."""
    n = mat.shape[0]
    h = np.empty(n, dtype=np.int64)
    for i in range(n):
        h[i] = xxhash64([seed, mat[i]], ["int", "array<double>"])
    keys = sorted(range(n), key=lambda i: (h[i], tuple(mat[i])))
    take = keys[:sample_size]
    return mat[take].copy()


def _fold_norms(mat: np.ndarray) -> np.ndarray:
    return np.sqrt(fold_dot(mat, mat))


ARROW_BATCH = 10_000   # spark.sql.execution.arrow.maxRecordsPerBatch


def _batched(fn, mat: np.ndarray, batch: int = ARROW_BATCH):
    """Apply ``fn`` to ``mat`` in the engine's Arrow batch sizes and
    stack — per-row results of BLAS matmuls can differ in the last
    ulp with the batch shape, so the twin mirrors the batching the
    pandas UDFs actually see (single-partition scan, 10k-row
    batches)."""
    outs = [fn(mat[s:s + batch]) for s in range(0, len(mat), batch)]
    return np.concatenate(outs, axis=0)


def twin_lsh_topk(sf_dir: str) -> pd.DataFrame:
    """Twin of ``q_lsh_topk`` (32 bands x 5 bits, exact cosine
    re-rank inside the banded candidates)."""
    from .operators.similarity import _hyperplanes
    pdf, mat = load_embeddings(sf_dir)
    vec_id = pdf["vec_id"].to_numpy()
    n_planes, band_bits, seed, k = 160, 5, 7, 5
    planes = _hyperplanes(64, n_planes, seed)
    n = mat.shape[0]
    bits = np.empty((n, n_planes), dtype=np.int64)
    for i in range(n_planes):
        s = fold_dot(mat, planes[i][None, :])
        bits[:, i] = (s > 0).astype(np.int64)
    n_bands = n_planes // band_bits
    keys = np.zeros((n, n_bands), dtype=np.int64)
    for b in range(n_bands):
        for j in range(band_bits):
            keys[:, b] += bits[:, b * band_bits + j] * (2 ** j)
    probe_idx = np.flatnonzero(vec_id < 20)
    buckets: Dict[Tuple[int, int], List[int]] = {}
    for i in range(n):
        for b in range(n_bands):
            buckets.setdefault((b, int(keys[i, b])), []).append(i)
    norms = _fold_norms(mat)
    rows = []
    for pi in probe_idx:
        cands = set()
        for b in range(n_bands):
            cands.update(buckets.get((b, int(keys[pi, b])), ()))
        cands.discard(int(pi))
        if not cands:
            continue
        ci = np.fromiter(cands, dtype=np.int64)
        cos = (fold_dot(mat[ci], mat[pi][None, :])
               / (norms[pi] * norms[ci]))
        order = np.lexsort((vec_id[ci], -cos))
        for rk, oi in enumerate(order[:k], start=1):
            rows.append((int(vec_id[pi]), rk, int(vec_id[ci[oi]]),
                         spark_round(float(cos[oi]))))
    rows.sort(key=lambda t: (t[0], t[1]))
    return plus_zero(pd.DataFrame({
        "probe_id": np.array([r[0] for r in rows], dtype=np.int64),
        "rk": np.array([r[1] for r in rows], dtype=np.int32),
        "vec_id": np.array([r[2] for r in rows], dtype=np.int64),
        "cos_sim": [r[3] for r in rows]}))


def twin_ivf_topk(sf_dir: str) -> pd.DataFrame:
    """Twin of ``q_ivf_topk`` (16 cells, 8 probed)."""
    from .operators.similarity import _kmeans_cosine
    pdf, mat = load_embeddings(sf_dir)
    vec_id = pdf["vec_id"].to_numpy()
    n_centroids, n_probe, seed, k = 16, 8, 11, 5
    sample = _twin_trainer_sample(mat, 4096, seed)
    cent = _kmeans_cosine(sample, n_centroids, 10, seed)

    def cells(m: np.ndarray, np_: int) -> np.ndarray:
        x = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True),
                           1e-12)
        return np.argsort(-(x @ cent.T), axis=1)[:, :np_]

    corpus_cell = _batched(lambda m: cells(m, 1), mat)[:, 0]
    probe_idx = np.flatnonzero(vec_id < 20)
    probe_cells = cells(mat[probe_idx], n_probe)
    norms = _fold_norms(mat)
    by_cell: Dict[int, List[int]] = {}
    for i in range(len(mat)):
        by_cell.setdefault(int(corpus_cell[i]), []).append(i)
    rows = []
    for p_pos, pi in enumerate(probe_idx):
        cands = set()
        for c in probe_cells[p_pos]:
            cands.update(by_cell.get(int(c), ()))
        cands.discard(int(pi))
        if not cands:
            continue
        ci = np.fromiter(cands, dtype=np.int64)
        cos = (fold_dot(mat[ci], mat[pi][None, :])
               / (norms[pi] * norms[ci]))
        order = np.lexsort((vec_id[ci], -cos))
        for rk, oi in enumerate(order[:k], start=1):
            rows.append((int(vec_id[pi]), rk, int(vec_id[ci[oi]]),
                         spark_round(float(cos[oi]))))
    rows.sort(key=lambda t: (t[0], t[1]))
    return plus_zero(pd.DataFrame({
        "probe_id": np.array([r[0] for r in rows], dtype=np.int64),
        "rk": np.array([r[1] for r in rows], dtype=np.int32),
        "vec_id": np.array([r[2] for r in rows], dtype=np.int64),
        "cos_sim": [r[3] for r in rows]}))


def twin_pq_topk(sf_dir: str) -> pd.DataFrame:
    """Twin of ``q_pq_topk`` (PQ16x8 ADC scan + exact re-rank of a
    32-candidate shortlist)."""
    from .operators.similarity import _pq_kmeans_subspaces
    pdf, mat = load_embeddings(sf_dir)
    vec_id = pdf["vec_id"].to_numpy()
    dim, m, n_codes, seed, k, refine = 64, 16, 256, 13, 5, 32
    dsub = dim // m
    sample = _twin_trainer_sample(mat, 4096, seed)
    books = _pq_kmeans_subspaces(sample, dim, m, n_codes, 10, seed)

    def encode(batch: np.ndarray) -> np.ndarray:
        x = batch / np.maximum(
            np.linalg.norm(batch, axis=1, keepdims=True), 1e-12)
        cc = np.empty((len(x), m), dtype=np.int64)
        for j in range(m):
            xs = x[:, j * dsub:(j + 1) * dsub]
            d2 = (-2.0 * xs @ books[j].T
                  + (books[j] ** 2).sum(axis=1)[None, :])
            cc[:, j] = np.argmin(d2, axis=1)
        return cc

    codes = _batched(encode, mat)
    probe_idx = np.flatnonzero(vec_id < 20)
    pv = mat[probe_idx]
    pvn = pv / np.maximum(np.linalg.norm(pv, axis=1, keepdims=True),
                          1e-12)
    lut = np.stack([pvn[:, j * dsub:(j + 1) * dsub] @ books[j].T
                    for j in range(m)], axis=1)
    sims = np.zeros((len(probe_idx), len(codes)))
    for j in range(m):
        sims += lut[:, j, :][:, codes[:, j]]
    norms = _fold_norms(mat)
    rows = []
    for p_pos, pi in enumerate(probe_idx):
        s = sims[p_pos]
        mask = np.ones(len(s), dtype=bool)
        mask[pi] = False
        ci = np.flatnonzero(mask)
        order = np.lexsort((vec_id[ci], -s[ci]))[:refine]
        short = ci[order]
        cos = (fold_dot(mat[short], mat[pi][None, :])
               / (norms[pi] * norms[short]))
        order2 = np.lexsort((vec_id[short], -cos))
        for rk, oi in enumerate(order2[:k], start=1):
            rows.append((int(vec_id[pi]), rk, int(vec_id[short[oi]]),
                         spark_round(float(s[short[oi]])),
                         spark_round(float(cos[oi]))))
    rows.sort(key=lambda t: (t[0], t[1]))
    return plus_zero(pd.DataFrame({
        "probe_id": np.array([r[0] for r in rows], dtype=np.int64),
        "rk": np.array([r[1] for r in rows], dtype=np.int32),
        "vec_id": np.array([r[2] for r in rows], dtype=np.int64),
        "adc_sim": [r[3] for r in rows],
        "cos_sim": [r[4] for r in rows]}))


def twin_semantic_dedup(sf_dir: str) -> pd.DataFrame:
    """Twin of ``q_semantic_dedup`` (SemDeDup: k-means + id-ordered
    greedy eps-ball leader scan per cluster)."""
    from .operators.similarity import _kmeans_cosine
    pdf, mat = load_embeddings(sf_dir)
    vec_id = pdf["vec_id"].to_numpy()
    n_clusters, eps, seed = 8, 0.65, 11
    sample = _twin_trainer_sample(mat, 4096, seed)
    cent = _kmeans_cosine(sample, n_clusters, 10, seed)

    def cells1(m: np.ndarray) -> np.ndarray:
        x = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True),
                           1e-12)
        return np.argsort(-(x @ cent.T), axis=1)[:, :1]

    cluster = _batched(cells1, mat)[:, 0]
    thr = 1.0 - eps
    rows = []
    for c in np.unique(cluster):
        idx = np.flatnonzero(cluster == c)
        idx = idx[np.argsort(vec_id[idx], kind="stable")]
        xv = mat[idx]
        xv = xv / np.maximum(np.linalg.norm(xv, axis=1, keepdims=True),
                             1e-12)
        kept: List[int] = []
        keep = np.zeros(len(idx), dtype=bool)
        for i in range(len(idx)):
            if not kept or float(np.max(xv[kept] @ xv[i])) < thr:
                keep[i] = True
                kept.append(i)
        for i, gi in enumerate(idx):
            rows.append((int(vec_id[gi]), int(c), bool(keep[i])))
    rows.sort(key=lambda t: t[0])
    return pd.DataFrame({
        "vec_id": np.array([r[0] for r in rows], dtype=np.int64),
        "cluster": np.array([r[1] for r in rows], dtype=np.int32),
        "keep": [r[2] for r in rows]})


def twin_pca_project(sf_dir: str) -> pd.DataFrame:
    """Twin of ``q_pca_project`` (exact integer sufficient stats ->
    eigh -> per-row projection)."""
    from .operators.projection import model_from_integer_stats
    pdf, mat = load_embeddings(sf_dir)
    vec_id = pdf["vec_id"].to_numpy()
    quant, k = 1_000_000, 4
    q = np.rint(mat * quant).astype(np.int64)
    d = q.shape[1]
    n = q.shape[0]
    s = [int(v) for v in q.sum(axis=0, dtype=np.int64)]
    bg = q.T @ q
    tri = []
    for j in range(d):
        for kk in range(j, d):
            tri.append(int(bg[j, kk]))
    model = model_from_integer_stats(n, s, tri, d, quant, k)
    p = _batched(lambda m: (m - model.mean) @ model.components.T, mat)
    out = {"vec_id": vec_id}
    for i in range(k):
        out[f"p{i}"] = spark_round_arr(p[:, i])
    return plus_zero(pd.DataFrame(out))


TWINS = {
    "hsic_select_embeddings": twin_hsic_select_embeddings,
    "segmented_select": twin_segmented_select,
    "mi_preselect": twin_mi_preselect,
    "greedy_hsic_search": twin_greedy_hsic_search,
    "categorical_search": twin_categorical_search,
    "feature_selection": twin_feature_selection,
    "lsh_topk": twin_lsh_topk,
    "ivf_topk": twin_ivf_topk,
    "pq_topk": twin_pq_topk,
    "semantic_dedup": twin_semantic_dedup,
    "pca_project": twin_pca_project,
}
