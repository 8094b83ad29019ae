"""Per-sf pin generator for the deterministic non-SQL gate queries —
round 5's replacement for tools/pin_oracles.py + tools/pin_constants.py.

For EVERY sf directory given, each of the 11 pin-family queries gets
three pieces of evidence before its pins are written:

1. **layout determinism** — the Spark engine runs the query twice
   under different parallelism/shuffle layouts (local[8]/8 vs
   local[5]/17) and the outputs must be bit-identical;
2. **twin agreement** — the no-Spark single-process twin
   (``hiselspark/twin.py``: pandas grouping + the same parity-tested
   NumPy cores, Spark's hash/fold semantics replayed via
   ``hiselspark/sparkhash.py``) must reproduce the engine output
   REPRESENTATION-EXACTLY (repr equality on floats, exact
   elsewhere) — this is the independent re-execution of the
   distribution layer;
3. the math cores themselves are covered by pytest parity against
   the reference imported in place (tests/refshim.py) and by the ANN
   recall floors vs the exact verifier.

Only then are the pins emitted, keyed BY SF TAG, into
``hiselspark/pinned_oracles.py`` / ``hiselspark/pinned_constants.py``:

* full literal VALUES oracles for the seeded searches
  (greedy_hsic_search, categorical_search, mi_preselect,
  feature_selection);
* constants (candidate ids / ADC picks / cluster assignment / exact
  scores / PCA model) for the hybrid oracles whose VALUES DuckDB
  recomputes from parquet.

``oracle_sql()`` selects the pin set via ``HISELSPARK_GATE_SF_TAG``
(default sf0.01 — the driver's gate scale), so
``tools/check_oracles.py`` gets TRUE per-sf oracles at every pinned
sf and reports ``ok`` instead of ``pinned_at_gate_sf``.

Usage: python tools/pin_all.py SF_DIR [SF_DIR ...]
       (regenerates the given sf tags; tags already pinned for other
       sfs are kept.  Refuses to run when the result would have no
       sf0.01 set, which the modules' gate defaults bind to.)
"""
from __future__ import annotations

import math
import os
import sys

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "hiselspark")
ORACLES_OUT = os.path.join(PKG, "pinned_oracles.py")
CONSTS_OUT = os.path.join(PKG, "pinned_constants.py")

LITERAL_PINNED = [
    "greedy_hsic_search",
    "categorical_search",
    "mi_preselect",
    "feature_selection",
]
CONSTANT_PINNED = [
    "lsh_topk", "ivf_topk", "pq_topk", "semantic_dedup",
    "hsic_select_embeddings", "segmented_select", "pca_project",
]
ALL_PINNED = LITERAL_PINNED + CONSTANT_PINNED
GATE_TAG = "sf0.01"   # the pin set the gate defaults bind to


def sql_value(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, (bool,)) or type(v).__name__ == "bool_":
        return "TRUE" if v else "FALSE"
    if isinstance(v, float) or "float" in type(v).__name__:
        return f"CAST({float(v)!r} AS DOUBLE)"
    if isinstance(v, int) or "int" in type(v).__name__:
        return str(int(v))
    s = str(v).replace("'", "''")
    return f"'{s}'"


def to_values_sql(pdf: pd.DataFrame) -> str:
    cols = ", ".join(f'"{c}"' for c in pdf.columns)
    rows = ",\n  ".join(
        "(" + ", ".join(sql_value(v) for v in row) + ")"
        for row in pdf.itertuples(index=False, name=None))
    return f"SELECT * FROM (VALUES\n  {rows}\n) AS t({cols})"


def norm_sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return (pdf.reindex(sorted(pdf.columns), axis=1)
               .sort_values(sorted(pdf.columns))
               .reset_index(drop=True))


def frames_equal_exact(a: pd.DataFrame, b: pd.DataFrame) -> list:
    """Representation-exact comparison; returns a list of problems."""
    a, b = norm_sorted(a), norm_sorted(b)
    probs = []
    if len(a) != len(b):
        return [f"rowcount {len(a)} vs {len(b)}"]
    if list(a.columns) != list(b.columns):
        return [f"columns {list(a.columns)} vs {list(b.columns)}"]
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or \
                pd.api.types.is_float_dtype(bv):
            bad = av.map(repr) != bv.map(repr)
        else:
            bad = av.astype(str) != bv.astype(str)
        if bad.any():
            i = bad.to_numpy().nonzero()[0][:3]
            probs.append(f"col {c} rows {i.tolist()}: "
                         f"{av.iloc[i].tolist()} vs {bv.iloc[i].tolist()}")
    return probs


def make_session(cores: int, shuffle: int):
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(f"local[{cores}]")
             .config("spark.sql.shuffle.partitions", str(shuffle))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "16g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_engine(sf_dir: str, cores: int, shuffle: int):
    """One full engine pass: the 11 query outputs + the raw constants
    the hybrid oracles pin."""
    import __spark_entry__ as se
    from hiselspark.operators.projection import pca_fit
    from hiselspark.operators.similarity import semantic_dedup
    from pyspark.sql import functions as F

    spark = make_session(cores, shuffle)
    qs = se.queries()
    out = {name: qs[name](spark, sf_dir).toPandas()
           for name in ALL_PINNED}

    consts: dict = {}
    for name in ("lsh_topk", "ivf_topk"):
        pdf = (out[name][["probe_id", "rk", "vec_id"]]
               .sort_values(["probe_id", "rk"]).reset_index(drop=True))
        consts[f"{name}_ids"] = [
            (int(a), int(b), int(c))
            for a, b, c in pdf.itertuples(index=False, name=None)]
    pq = (out["pq_topk"][["probe_id", "rk", "vec_id", "adc_sim"]]
          .sort_values(["probe_id", "rk"]).reset_index(drop=True))
    consts["pq_topk_ids"] = [
        (int(r.probe_id), int(r.rk), int(r.vec_id), float(r.adc_sim))
        for r in pq.itertuples(index=False)]

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sd = (semantic_dedup(emb, dim=64, n_clusters=8, eps=0.65, seed=11)
          .select("vec_id", "cluster").toPandas()
          .sort_values("vec_id").reset_index(drop=True))
    consts["semantic_dedup_clusters"] = [
        (int(a), int(b)) for a, b in sd.itertuples(index=False,
                                                   name=None)]
    consts["hsic_emb_scores"] = [
        (c, float(s), bool(sel))
        for c, s, _rank, sel in se._hsic_emb_rows(spark, sf_dir)]
    consts["segmented_select"] = [
        (int(seg), int(rk), str(feat), float(s))
        for seg, rk, feat, s in se._segmented_select_rows(spark, sf_dir)]
    model = pca_fit(emb, "embedding", k=4)
    consts["pca_model"] = {
        "mean": [float(x) for x in model.mean],
        "components": [[float(x) for x in row]
                       for row in model.components],
    }
    spark.stop()
    return out, consts


def main():
    sf_dirs = sys.argv[1:]
    if not sf_dirs:
        raise SystemExit("usage: python tools/pin_all.py SF_DIR "
                         "[SF_DIR ...]")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    from hiselspark import twin as twin_mod

    # merge: keep already-pinned tags not being regenerated this run
    oracles_by_sf: dict = {}
    consts_by_sf: dict = {}
    try:
        from hiselspark.pinned_constants import PINNED_CONSTANTS_BY_SF
        from hiselspark.pinned_oracles import PINNED_ORACLES_BY_SF
        oracles_by_sf.update(PINNED_ORACLES_BY_SF)
        consts_by_sf.update(PINNED_CONSTANTS_BY_SF)
    except ImportError:
        pass
    tags = {os.path.basename(d.rstrip("/")) for d in sf_dirs}
    if GATE_TAG not in tags | (set(oracles_by_sf) & set(consts_by_sf)):
        raise SystemExit(f"refusing to write pins without a {GATE_TAG} "
                         f"set: pass its SF_DIR too")
    for sf_dir in sf_dirs:
        tag = os.path.basename(sf_dir.rstrip("/"))
        print(f"=== {tag} ===", flush=True)
        out1, consts1 = run_engine(sf_dir, 8, 8)
        out2, consts2 = run_engine(sf_dir, 5, 17)
        for name in ALL_PINNED:
            probs = frames_equal_exact(out1[name], out2[name])
            if probs:
                raise SystemExit(
                    f"{tag}/{name}: NOT layout-deterministic: {probs}")
        if consts1 != consts2:
            for k in consts1:
                if consts1[k] != consts2[k]:
                    raise SystemExit(
                        f"{tag}/{k}: constants NOT layout-deterministic")
        print(f"{tag}: layout determinism OK (11 queries, "
              f"{len(consts1)} constant sets)", flush=True)
        for name in ALL_PINNED:
            tw = twin_mod.TWINS[name](sf_dir)
            probs = frames_equal_exact(out1[name], tw)
            if probs:
                raise SystemExit(
                    f"{tag}/{name}: twin DISAGREES with engine: {probs}")
            print(f"{tag}/{name}: twin agreement OK "
                  f"({len(tw)} rows, representation-exact)", flush=True)

        oracles_by_sf[tag] = {
            name: "\n" + to_values_sql(
                norm_sorted(out1[name])) + "\n"
            for name in LITERAL_PINNED}
        consts_by_sf[tag] = consts1

    with open(ORACLES_OUT, "w") as f:
        f.write('"""Pinned literal-table oracles for the deterministic '
                'non-SQL gate queries,\nkeyed by sf tag.\n\nGENERATED '
                'by tools/pin_all.py; every entry passed the layout-\n'
                'determinism double-run AND the no-Spark twin '
                'agreement check at its\nown sf (see tools/pin_all.py '
                'docstring).  Regenerate after any\nintentional change '
                'to the underlying operators.\n"""\n\n'
                'PINNED_ORACLES_BY_SF = {\n')
        for tag, oracles in oracles_by_sf.items():
            f.write(f'    "{tag}": {{\n')
            for name, sql in oracles.items():
                f.write(f'        "{name}": """{sql}""",\n')
            f.write('    },\n')
        f.write('}\n\n# driver-gate default (the driver runs oracles '
                f'at {GATE_TAG})\nPINNED_ORACLES = '
                f'PINNED_ORACLES_BY_SF["{GATE_TAG}"]\n')
    print(f"wrote {ORACLES_OUT}")

    with open(CONSTS_OUT, "w") as f:
        f.write('"""Pinned engine-side constants (ANN candidate ids, '
                'k-means assignments,\nPCA model, exact selection '
                'scores) consumed by ``oracle_sql()`` to rebuild\nall '
                'reported values independently in DuckDB, keyed by sf '
                'tag.\n\nGENERATED by tools/pin_all.py; every entry '
                'passed the layout-determinism\ndouble-run AND the '
                'no-Spark twin agreement check at its own sf.\n'
                'Regenerate after any intentional change to the '
                'underlying operators.\n"""\n\n'
                'PINNED_CONSTANTS_BY_SF = {\n')
        for tag, consts in consts_by_sf.items():
            f.write(f'    "{tag}": {{\n')
            for k, v in consts.items():
                f.write(f'        "{k}": {v!r},\n')
            f.write('    },\n')
        f.write('}\n\n# driver-gate default\nPINNED_CONSTANTS = '
                f'PINNED_CONSTANTS_BY_SF["{GATE_TAG}"]\n')
    print(f"wrote {CONSTS_OUT}")


if __name__ == "__main__":
    main()
