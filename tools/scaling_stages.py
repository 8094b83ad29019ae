"""Per-STAGE scaling profile: which stage of the north pipeline still
fails to scale local[8] -> local[32]?

The end-to-end records (BENCH_SCALING.json) show raw efficiency rising
with input size (0.396 @500k -> 0.535 @2M) but still short of the 0.8
rule.  This tool decomposes the pipeline into its four stages, stages
each stage's INPUT to parquet once (untimed), then times every stage
in isolation at both parallelism levels, interleaved 8/32/8/32 to
decorrelate shared-host drift:

  scan      featurize_images_fused: parquet row groups opened directly
            in Python tasks (decode + pixel stats + caption features)
  timeline  chunked sessionize / lags / rolling over the narrow frame
  asof      chunked backward as-of join of labels onto the timeline
  core      HSIC sufficient-stats (mapInPandas) + reduce + driver LARS

Per (stage, cpus): one untimed warm rep (codegen/JIT/worker spawn are
cluster-lifetime costs), then best-of-2 timed reps.  Writes
``stage_profile`` into BENCH_SCALING.json and prints a table.

Usage: python tools/scaling_stages.py [n_images=500000]
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PREP = r"""
import os, sys
sys.path.insert(0, {repo!r})
os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(v, "1")
from pyspark.sql import SparkSession, functions as F
corpus = sys.argv[1]; inter = sys.argv[2]
spark = (SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
    .config("spark.driver.memory", "48g")
    .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from hiselspark.sources.fused_scan import featurize_images_fused
from hiselspark.pipeline import engineer_timeline, assemble_training_frame
BUCKET = 7 * 86400.0
feats = featurize_images_fused(spark, f"{{corpus}}/images")
feats.write.mode("overwrite").parquet(f"{{inter}}/feats")
tl = engineer_timeline(spark.read.parquet(f"{{inter}}/feats"),
                       bucket_seconds=BUCKET)
tl.write.mode("overwrite").parquet(f"{{inter}}/timeline")
labels = (spark.read.parquet(f"{{corpus}}/labels")
          .withColumn("label_ts", F.col("label_ts").cast("timestamp")))
with assemble_training_frame(
        f"{{corpus}}/images", labels, bucket_seconds=BUCKET) as (frame, fcols):
    fcols = [c for c in fcols if c != "session_id"]
    frame.select(F.col("y").cast("double").alias("y"),
                 *[F.col(c).cast("double").alias(c) for c in fcols]) \
        .write.mode("overwrite").parquet(f"{{inter}}/frame")
print("prepped")
"""

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(v, "1")
from pyspark.sql import SparkSession, functions as F
cpus = int(sys.argv[1]); corpus = sys.argv[2]; inter = sys.argv[3]
stages = sys.argv[4].split(",")
spark = (SparkSession.builder.master(f"local[{{cpus}}]")
    .config("spark.sql.shuffle.partitions", str(cpus))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
    .config("spark.python.unix.domain.socket.enabled", "true")
    .config("spark.driver.memory", "48g")
    .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from hiselspark.sources.fused_scan import featurize_images_fused
from hiselspark.pipeline import engineer_timeline
from hiselspark.operators.chunked import (chunked_asof_join,
                                          release_chunk_caches)
from hiselspark.selection import SparkHSICSelector
BUCKET = 7 * 86400.0

def noop(df):
    df.write.format("noop").mode("overwrite").save()

def run_scan():
    noop(featurize_images_fused(spark, f"{{corpus}}/images"))

def run_timeline():
    noop(engineer_timeline(spark.read.parquet(f"{{inter}}/feats"),
                           bucket_seconds=BUCKET))
    release_chunk_caches()

def run_asof():
    tl = spark.read.parquet(f"{{inter}}/timeline")
    vcols = [c for c in tl.columns if c not in ("entity_id", "ts")]
    labels = (spark.read.parquet(f"{{corpus}}/labels")
              .withColumn("ts", F.col("label_ts").cast("timestamp"))
              .drop("label_ts"))
    j = chunked_asof_join(labels, tl, on="entity_id", left_ts="ts",
                          right_ts="ts", value_cols=vcols,
                          bucket_seconds=BUCKET)
    noop(j.dropna(subset=vcols))
    release_chunk_caches()

def run_core():
    frame = spark.read.parquet(f"{{inter}}/frame")
    fcols = [c for c in frame.columns if c != "y"]
    SparkHSICSelector(frame, fcols, ["y"]).run(
        number_of_features=4, minibatch_size=200)

FN = {{"scan": run_scan, "timeline": run_timeline,
      "asof": run_asof, "core": run_core}}
out = {{}}
for st in stages:
    fn = FN[st]
    fn()  # untimed warm rep (codegen/JIT/worker spawn)
    walls = []
    for _ in range(2):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    out[st] = {{"wall_sec": min(walls), "all_walls_sec": walls}}
print("STAGEJSON " + json.dumps({{"cpus": cpus, "stages": out}}))
"""

STAGES = "scan,timeline,asof,core"


def child(cpus: int, corpus: str, inter: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", CHILD.format(repo=REPO), str(cpus),
         corpus, inter, STAGES],
        capture_output=True, text=True, cwd=REPO, check=True)
    line = [l for l in out.stdout.splitlines()
            if l.startswith("STAGEJSON ")][-1]
    return json.loads(line[len("STAGEJSON "):])


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    corpus = f"/tmp/hiselspark_scaling_corpus_{n}"
    inter = f"/tmp/hiselspark_stage_inter_{n}"
    if not os.path.exists(f"{corpus}/labels"):
        from scaling_bench import STAGE  # noqa: F401
        subprocess.run([sys.executable, "-c", STAGE.format(repo=REPO),
                        str(n), corpus], cwd=REPO, check=True,
                       capture_output=True, text=True)
    if not os.path.exists(f"{inter}/frame"):
        subprocess.run([sys.executable, "-c", PREP.format(repo=REPO),
                        corpus, inter], cwd=REPO, check=True,
                       capture_output=True, text=True)
    runs = {8: [], 32: []}
    for cpus in (8, 32, 8, 32):
        r = child(cpus, corpus, inter)
        runs[cpus].append(r)
        print(json.dumps(r))
    stages = STAGES.split(",")
    prof = {}
    for st in stages:
        best = {c: min(r["stages"][st]["wall_sec"] for r in rs)
                for c, rs in runs.items()}
        alls = {c: sorted(w for r in rs
                          for w in r["stages"][st]["all_walls_sec"])
                for c, rs in runs.items()}
        prof[st] = {
            "wall8_sec": round(best[8], 2),
            "wall32_sec": round(best[32], 2),
            "all_walls8_sec": [round(w, 2) for w in alls[8]],
            "all_walls32_sec": [round(w, 2) for w in alls[32]],
            "scaling_efficiency": round(best[8] / best[32] / 4.0, 3),
        }
    section = {
        "protocol": ("each stage timed in ISOLATION from its staged "
                     "parquet input, interleaved local[8]/local[32] "
                     "(2 sessions x best-of-2 in-session reps per "
                     "config); untimed warm rep per session"),
        "n_images": n,
        "stages": prof,
        "timestamp": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    path = os.path.join(REPO, "BENCH_SCALING.json")
    data = json.load(open(path))
    data[f"stage_profile_{n}"] = section
    json.dump(data, open(path, "w"), indent=2)
    print(json.dumps(section, indent=2))


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
