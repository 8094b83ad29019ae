"""The benchmark's workloads: seeded inputs, the public call each one
times, and the checks on its outputs.

Inputs are generated from the seed once per (corpus, seed) and cached
under the checkout's ``.perfbench_cache``.  Every table is described by
its row count and a content fingerprint; a cached copy is described
again on reuse, and a small canary generated on every run must match
the description recorded in ``inputs.json``, so a change to
``hiselspark.datagen`` fails the benchmark instead of silently changing
the workload.
"""
from __future__ import annotations

import hashlib
import inspect
import json
import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Dict, FrozenSet, List, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

RECORDED = Path(__file__).with_name("inputs.json")

# point-in-time corpus: images and labels from hiselspark.datagen
PIT_IMAGES = 12_000
PIT_LABELS = PIT_IMAGES // 4
# tabular frame: continuous features, y depends on three of them
TAB_ROWS = 8_000
TAB_COLS = 40
# files per table: fixed, so the input layout does not follow the host
FILES = 8
CANARY_SEED = 42
CANARY_ROWS = 512

_SORT_KEYS = {"images": ["image_id"],
              "labels": ["entity_id", "label_ts", "y"],
              "tabular": None}          # None: sort by every column


@dataclass(frozen=True)
class Workload:
    name: str
    corpus: str                 # "pit" or "tabular"
    minibatch_size: int
    number_of_features: int
    truth: FrozenSet[str]       # features the generator made informative


WORKLOADS: Dict[str, Workload] = {w.name: w for w in (
    Workload("pit_b200", "pit", 200, 4,
             frozenset({"pbit0", "pbit7", "caption_tokens"})),
    Workload("tabular_b1000", "tabular", 1000, 5,
             frozenset({"f00", "f05", "f11"})),
)}


class InputDrift(RuntimeError):
    """Generated inputs differ from their recorded description."""


# ---------------------------------------------------------------------------
# generation and description
# ---------------------------------------------------------------------------

def tabular_frame(seed: int, rows: int) -> pd.DataFrame:
    """``TAB_COLS`` standard-normal features; ``y = sin(2 f00) + f05^2 +
    |f11| + noise``."""
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((rows, TAB_COLS))
    y = (np.sin(2.0 * x[:, 0]) + x[:, 5] ** 2 + np.abs(x[:, 11])
         + 0.1 * rng.standard_normal(rows))
    df = pd.DataFrame(x, columns=tabular_features())
    df["y"] = y
    return df


def tabular_features() -> List[str]:
    return [f"f{i:02d}" for i in range(TAB_COLS)]


def fingerprint(df: pd.DataFrame, table: str) -> str:
    """sha256 over the table's content in a canonical row order."""
    keys = _SORT_KEYS[table] or list(df.columns)
    df = df.sort_values(keys, kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256()
    for c in sorted(df.columns):
        col = df[c]
        h.update(c.encode())
        if col.dtype == object and len(col) and isinstance(col.iloc[0],
                                                           bytes):
            h.update(np.array([len(b) for b in col], np.int64).tobytes())
            h.update(b"".join(col))
        else:
            h.update(pd.util.hash_pandas_object(col, index=False)
                     .to_numpy().tobytes())
    return h.hexdigest()


def _read(path: Path) -> pd.DataFrame:
    return pq.read_table(str(path)).to_pandas()


def _describe(tables: Dict[str, pd.DataFrame]) -> Dict[str, dict]:
    return {t: {"rows": len(df), "sha256": fingerprint(df, t)}
            for t, df in tables.items()}


def _write_tabular(df: pd.DataFrame, out: Path) -> None:
    out.mkdir(parents=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), FILES)):
        pq.write_table(pa.Table.from_pandas(df.iloc[part],
                                            preserve_index=False),
                       str(out / f"part-{i:03d}.parquet"))


def expected_frame_rows(images: pd.DataFrame,
                        labels: pd.DataFrame) -> Tuple[int, int, int]:
    """Independent count of the point-in-time training frame: a label
    is matched when its entity has an image at or before it, and
    complete when the matched image is not the entity's first (whose
    lag features are null).  Returns ``(matched, low, high)``; ``high``
    exceeds ``low`` only by labels whose candidate images tie on the
    entity's first timestamp, where either image is a correct match."""
    ts = {e: np.sort(g.to_numpy("datetime64[ns]"))
          for e, g in images.groupby("entity_id")["ts"]}
    matched = low = tied = 0
    for e, g in labels.groupby("entity_id")["label_ts"]:
        arr = ts.get(e)
        if arr is None:
            continue
        n_le = np.searchsorted(arr, g.to_numpy("datetime64[ns]"),
                               side="right")
        n_first = np.searchsorted(arr, arr[0], side="right")
        matched += int(np.sum(n_le >= 1))
        low += int(np.sum(n_le > max(n_first, 1)))
        tied += int(np.sum((n_le >= 2) & (n_le == n_first)))
    return matched, low, low + tied


@dataclass
class Inputs:
    dir: Path
    meta: dict

    @property
    def images(self) -> str:
        return str(self.dir / "images")

    @property
    def labels(self) -> str:
        return str(self.dir / "labels")

    @property
    def tabular(self) -> str:
        return str(self.dir / "tabular")


def _tables(corpus: str, d: Path) -> Dict[str, pd.DataFrame]:
    names = ["images", "labels"] if corpus == "pit" else ["tabular"]
    return {t: _read(d / t) for t in names}


def _generate(spark, corpus: str, seed: int, out: Path) -> dict:
    from hiselspark import datagen

    if corpus == "tabular":
        _write_tabular(tabular_frame(seed, TAB_ROWS), out / "tabular")
        return {"tables": _describe(_tables(corpus, out))}
    (datagen.images(spark, PIT_IMAGES, seed=seed, partitions=FILES)
     .write.parquet(str(out / "images")))
    (datagen.labels(spark, PIT_IMAGES, n_labels=PIT_LABELS, seed=seed,
                    partitions=FILES)
     .write.parquet(str(out / "labels")))
    tables = _tables(corpus, out)
    matched, low, high = expected_frame_rows(tables["images"],
                                             tables["labels"])
    return {"tables": _describe(tables), "labels_matched": matched,
            "frame_rows": [low, high]}


def prepare(spark, corpus: str, seed: int, cache: Path) -> Inputs:
    """The (corpus, seed) inputs, generated on first use and checked
    against their description on every later one."""
    size = PIT_IMAGES if corpus == "pit" else TAB_ROWS
    d = cache / f"{corpus}-n{size}-s{seed}"
    meta_path = d / "meta.json"
    if meta_path.exists():
        meta = json.loads(meta_path.read_text())
        if _describe(_tables(corpus, d)) != meta["tables"]:
            raise InputDrift(f"cached inputs in {d} changed on disk")
    else:
        tmp = d.with_name(d.name + ".partial")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        meta = _generate(spark, corpus, seed, tmp)
        (tmp / "meta.json").write_text(json.dumps(meta, indent=1))
        tmp.rename(d)
    ref = json.loads(RECORDED.read_text())["seed42"].get(corpus)
    if seed == CANARY_SEED and ref is not None and ref != meta:
        raise InputDrift(f"{corpus} inputs at seed 42 differ from "
                         f"{RECORDED.name}: {meta} != {ref}")
    return Inputs(d, meta)


def canary(spark) -> Dict[str, dict]:
    """Description of a small generation at the canary seed."""
    from hiselspark import datagen

    images = datagen.images(spark, CANARY_ROWS, seed=CANARY_SEED,
                            partitions=2).toPandas()
    labels = datagen.labels(spark, CANARY_ROWS, seed=CANARY_SEED,
                            partitions=2).toPandas()
    return _describe({"images": images, "labels": labels,
                      "tabular": tabular_frame(CANARY_SEED, CANARY_ROWS)})


def check_canary(spark) -> None:
    got = canary(spark)
    want = json.loads(RECORDED.read_text())["canary"]
    if got != want:
        raise InputDrift(f"input generators changed: canary {got} "
                         f"!= recorded {want}")


# ---------------------------------------------------------------------------
# calls and checks
# ---------------------------------------------------------------------------

def default_of(fn, name: str):
    return inspect.signature(fn).parameters[name].default


def pipeline_bucket_seconds() -> float:
    """The pipeline's default ``bucket_seconds``, read from its
    signature so a changed default is measured, not overridden."""
    from hiselspark.pipeline import select_features_pointintime

    return default_of(select_features_pointintime, "bucket_seconds")


def selection_defaults(w: Workload) -> Dict[str, str]:
    """``mode`` and ``precision`` as the workload's entry point
    defaults them, for the traced selection and kernel layers."""
    from hiselspark.pipeline import select_features_pointintime
    from hiselspark.selection import SparkHSICSelector

    fn = (select_features_pointintime if w.corpus == "pit"
          else SparkHSICSelector.run)
    return {k: default_of(fn, k) for k in ("mode", "precision")}


def call(spark, w: Workload, inputs: Inputs):
    """One end-to-end call through the library's public entry point,
    with the library's defaults for everything the workload does not
    fix (mode, bucket_seconds, precision)."""
    if w.corpus == "pit":
        from hiselspark.pipeline import select_features_pointintime

        return select_features_pointintime(
            inputs.images, spark.read.parquet(inputs.labels),
            number_of_features=w.number_of_features,
            minibatch_size=w.minibatch_size)
    from hiselspark.selection import hsic_lasso_select

    return hsic_lasso_select(
        spark.read.parquet(inputs.tabular), tabular_features(), ["y"],
        number_of_features=w.number_of_features,
        minibatch_size=w.minibatch_size)


def check_selection(w: Workload, features: List[str]) -> List[str]:
    """Set comparison: with one outer batch the library returns the
    selected features in a tie-broken order, not strongest first."""
    missing = w.truth - set(features)
    out = []
    if missing:
        out.append(f"true features {sorted(missing)} not selected "
                   f"(got {features})")
    if len(features) != w.number_of_features:
        out.append(f"selected {len(features)} features, asked for "
                   f"{w.number_of_features}")
    return out


def check_asof_rows(inputs: Inputs, matched: int,
                    complete: int) -> List[str]:
    """Compare the as-of join's matched labels and the training frame
    (labels with a complete feature vector) with the counts computed
    independently from the inputs."""
    out = []
    if matched != inputs.meta["labels_matched"]:
        out.append(f"{matched} labels matched, expected "
                   f"{inputs.meta['labels_matched']}")
    low, high = inputs.meta["frame_rows"]
    if not low <= complete <= high:
        out.append(f"training frame has {complete} rows, expected "
                   f"{low}..{high}")
    return out


def input_rows(w: Workload, inputs: Inputs) -> int:
    """Rows behind ``rows_per_s``: the training frame for the
    point-in-time workloads (fixed by the inputs, not by how the
    selection layer batches), the input rows for the tabular one."""
    if w.corpus == "pit":
        return inputs.meta["frame_rows"][0]
    return inputs.meta["tables"]["tabular"]["rows"]
