"""Scaling harness: the point-in-time pipeline, or each of its layers
alone, on one staged corpus at several parallelism levels and driver
heaps, one fresh Spark session per run.

Usage: python tools/scaling.py N [--cpus 8,32] [--layers pipeline]
                                 [--driver-memory 48g]

``--cpus`` and ``--driver-memory`` are comma lists; each (cpus, memory)
pair is one config.  ``--layers`` is a comma list of:

  pipeline  select_features_pointintime(images path, labels, 4 features,
            minibatch 200), warmed by one call on the pilot corpus
  scan      featurize_images_fused over the staged images
  timeline  engineer_timeline over the staged scan output
  asof      chunked_asof_join of the labels onto the staged timeline
  core      SparkHSICSelector on the staged training frame at minibatch
            2000 (kernel-dominated), library defaults

The corpus (thumbnail-scale images plus a 1/20 pilot corpus) and the
layer inputs are staged once under /tmp and reused.  Configs run
interleaved, 2 sessions each, keeping the best wall per (config,
layer).  Efficiency = throughput ratio / cpu ratio against the smallest
``--cpus``, next to a pure-CPU burn ceiling.  The section is merged
into BENCH_SCALING.json under ``scaling_{N}_cpus{..}_mem{..}``, keeping
every other key.  Run it only on an otherwise idle machine.
"""
from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RECORD = os.path.join(REPO, "BENCH_SCALING.json")
LAYERS = ("pipeline", "scan", "timeline", "asof", "core")
SESSIONS = REPS = 2
PROTOCOL = (f"fresh local[cpus] session per config, interleaved x{SESSIONS}, "
            f"best per config; per layer 1 warm rep (pipeline: pilot) + best "
            f"of {REPS}; pipeline minibatch 200; core: SparkHSICSelector at "
            "minibatch 2000, library defaults")


def parse_layers(text: str):
    unknown = sorted(set(text.split(",")) - set(LAYERS))
    if unknown:
        raise ValueError(f"unknown layers {unknown}; choose from {LAYERS}")
    return text.split(",")


def _session(cpus: int, memory: str):
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.sql.shuffle.partitions", str(cpus))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
             .config("spark.python.unix.domain.socket.enabled", "true")
             .config("spark.driver.memory", memory)
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _labels(spark, corpus: str, prefix: str = ""):
    from pyspark.sql import functions as F
    return (spark.read.parquet(f"{corpus}/{prefix}labels")
            .withColumn("label_ts", F.col("label_ts").cast("timestamp")))


def _stage(n: int, corpus: str, inter: str, cpus: int, memory: str,
           stage_corpus: bool, stage_inter: bool):
    spark = _session(cpus, memory)
    from pyspark.sql import functions as F
    from hiselspark import datagen
    from hiselspark.pipeline import assemble_training_frame, engineer_timeline
    from hiselspark.sources.fused_scan import featurize_images_fused
    pn = max(n // 20, 2000)
    for prefix, k, n_labels, parts in (("", n, n, 64),
                                       ("pilot_", pn, pn // 4, 16)):
        if stage_corpus:  # thumbnail-scale images: decode-bound
            datagen.images(spark, k, seed=42, partitions=parts,
                           sizes=(32, 64, 128)).write.mode("overwrite") \
                .parquet(f"{corpus}/{prefix}images")
            datagen.labels(spark, k, n_labels=n_labels, seed=42,
                           partitions=max(parts // 8, 4)) \
                .write.mode("overwrite").parquet(f"{corpus}/{prefix}labels")
    if stage_inter:
        featurize_images_fused(spark, f"{corpus}/images") \
            .write.mode("overwrite").parquet(f"{inter}/feats")
        engineer_timeline(spark.read.parquet(f"{inter}/feats")) \
            .write.mode("overwrite").parquet(f"{inter}/timeline")
        with assemble_training_frame(f"{corpus}/images",
                                     _labels(spark, corpus)) as (frame, cols):
            frame.select(F.col("y").cast("double").alias("y"),
                         *[F.col(c).cast("double").alias(c) for c in cols]) \
                .write.mode("overwrite").parquet(f"{inter}/frame")


def _child(cpus: int, memory: str, corpus: str, inter: str, layers):
    """One session: time each requested layer, return its results."""
    spark = _session(cpus, memory)
    from hiselspark.operators.chunked import chunked_asof_join
    from hiselspark.pipeline import (engineer_timeline,
                                     select_features_pointintime)
    from hiselspark.selection import SparkHSICSelector
    from hiselspark.sources.fused_scan import featurize_images_fused

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def pipeline(prefix=""):
        return select_features_pointintime(
            f"{corpus}/{prefix}images", _labels(spark, corpus, prefix),
            number_of_features=4, minibatch_size=200)

    def asof():
        tl = spark.read.parquet(f"{inter}/timeline")
        vcols = [c for c in tl.columns if c not in ("entity_id", "ts")]
        labels = _labels(spark, corpus).withColumnRenamed("label_ts", "ts")
        noop(chunked_asof_join(labels, tl, on="entity_id", left_ts="ts",
                               right_ts="ts", value_cols=vcols)
             .dropna(subset=vcols))

    def core():
        frame = spark.read.parquet(f"{inter}/frame")
        fcols = [c for c in frame.columns if c != "y"]
        return SparkHSICSelector(frame, fcols, ["y"]).run(
            number_of_features=4, minibatch_size=2000)

    bodies = {
        "pipeline": pipeline,
        "scan": lambda: noop(featurize_images_fused(
            spark, f"{corpus}/images")),
        "timeline": lambda: noop(engineer_timeline(
            spark.read.parquet(f"{inter}/feats"))),
        "asof": asof, "core": core}
    warm = dict(bodies, pipeline=lambda: pipeline("pilot_"))
    out = {}
    for layer in layers:
        warm[layer]()  # untimed: codegen, JIT, Python-worker spawn
        walls = []
        for _ in range(REPS):
            t0 = time.perf_counter()
            res = bodies[layer]()
            walls.append(time.perf_counter() - t0)
        out[layer] = {"wall_s": min(walls), "walls_s": walls}
        if res is not None:  # pipeline and core select features
            out[layer].update(
                selected=res.features, rows_used=res.n_rows_used,
                rows_per_s=res.n_rows_used / min(walls), hsic_scores={
                    k: float(v) for k, v in res.hsic_scores.items()})
    return out


def _fresh(fn, *args):
    """``fn(*args)`` in a fresh interpreter, so each session has its own
    JVM; the JVM exits with it."""
    with mp.get_context("spawn").Pool(1) as pool:
        return pool.apply(fn, args)


def _burn(_):
    t0, x, units = time.perf_counter(), 0.0, 0
    while time.perf_counter() - t0 < 4:
        for _ in range(100000):
            x = x * 1.0000001 + 0.1
        units += 1
    return units


def hardware_ceiling(lo: int, hi: int) -> float:
    """Pure-CPU throughput of ``hi`` vs ``lo`` processes over hi/lo: the
    best efficiency any perfectly parallel job reaches on this box."""
    def total(k):
        with mp.get_context("spawn").Pool(k) as pool:
            return sum(pool.map(_burn, range(k), chunksize=1))
    return total(hi) / (hi / lo * total(lo))


def summarise(runs, cpus, memories, ceiling=None) -> dict:
    """``runs``: {(cpus, memory): [child result per session]}, each a
    {layer: {"wall_s", "walls_s", ...}} dict.  Returns the section's
    best-per-config results, per-layer efficiency and identity flags."""
    best = {cfg: {layer: dict(
        min((s[layer] for s in sessions), key=lambda r: r["wall_s"]),
        walls_s=sorted(w for s in sessions for w in s[layer]["walls_s"]))
        for layer in sessions[0]} for cfg, sessions in runs.items()}
    lo = min(cpus)
    layers = list(best[lo, memories[0]])

    def throughput(r):
        return r.get("rows_used", 1) / r["wall_s"]

    picks = {layer: [cfg[layer] for cfg in best.values()] for layer in layers
             if "selected" in best[lo, memories[0]][layer]}

    def identical(field):  # None: no requested layer selects features
        return all(r[field] == rs[0][field] for rs in picks.values()
                   for r in rs) if picks else None
    section = {
        "configs": {f"local{c}_{m}": r for (c, m), r in best.items()},
        "efficiency": {layer: {m: {str(c): round(
            throughput(best[c, m][layer]) / throughput(best[lo, m][layer])
            / (c / lo), 3) for c in sorted(cpus) if c != lo}
            for m in memories} for layer in layers},
        "selection_identical": identical("selected"),
        "scores_identical": identical("hsic_scores")}
    if ceiling is not None:
        section["hardware_ceiling"] = round(ceiling, 3)
    return section


def record(path: str, key: str, section: dict) -> None:
    """Merge ``section`` under ``key`` into the JSON record at ``path``,
    keeping every other key; the file is replaced atomically."""
    with open(path) as f:
        data = json.load(f)
    data[key] = section
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(json.dumps(data, indent=1, sort_keys=True))
    os.replace(tmp, path)


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("n_images", type=int)
    p.add_argument("--cpus", default="8,32")
    p.add_argument("--layers", default="pipeline")
    p.add_argument("--driver-memory", default="48g")
    args = p.parse_args(argv)
    n, layers = args.n_images, parse_layers(args.layers)
    cpus = [int(c) for c in args.cpus.split(",")]
    memories = args.driver_memory.split(",")
    # the sessions' Python workers import hiselspark and run one BLAS
    # thread each: Spark tasks are the parallelism
    sys.path.insert(0, REPO)
    os.environ.update(PYSPARK_PYTHON=sys.executable, OMP_NUM_THREADS="1",
                      OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1",
                      PYTHONPATH=os.pathsep.join(filter(None, [
                          REPO, os.environ.get("PYTHONPATH")])))
    corpus = f"/tmp/hiselspark_scaling_corpus_{n}"
    inter = f"/tmp/hiselspark_stage_inter_{n}"
    stage_corpus = not os.path.exists(f"{corpus}/pilot_labels")
    stage_inter = (set(layers) != {"pipeline"}
                   and not os.path.exists(f"{inter}/frame"))
    if stage_corpus or stage_inter:
        _fresh(_stage, n, corpus, inter, max(cpus), memories[0],
               stage_corpus, stage_inter)
    ceiling = hardware_ceiling(min(cpus), max(cpus)) if len(cpus) > 1 else None
    runs = {(c, m): [] for m in memories for c in cpus}
    for _ in range(SESSIONS):
        for c, m in runs:
            runs[c, m].append(_fresh(_child, c, m, corpus, inter, layers))
            print(f"local{c}_{m}", json.dumps({k: round(v["wall_s"], 2)
                  for k, v in runs[c, m][-1].items()}), flush=True)
    section = summarise(runs, cpus, memories, ceiling)
    section.update(protocol=PROTOCOL, n_images=n, layers=layers,
                   timestamp=time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                           time.gmtime()))
    key = (f"scaling_{n}_cpus{'-'.join(map(str, cpus))}"
           f"_mem{'-'.join(memories)}")
    record(RECORD, key, section)
    print(json.dumps({key: section}, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
