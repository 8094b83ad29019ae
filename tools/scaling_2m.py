"""4x-input scaling check: the full point-in-time pipeline on a
2M-image staged corpus at local[8] vs local[32], interleaved
8/32/8/32 (two pairings, best wall per config) to decorrelate
shared-host drift.  Updates the ``n_images_2m_run`` section of
BENCH_SCALING.json in place — the 500k main record is produced by
tools/scaling_bench.py.

Why this exists: raw single-box efficiency at 500k is depressed by
fixed scheduling cost; the trend of efficiency WITH INPUT SIZE is the
evidence that the remaining gap amortizes (see BASELINE.md §Scaling).
Full pipeline only (no core-stage reps) — the core's scaling has its
own dedicated probes.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N = 2_000_000

from scaling_bench import STAGE  # same corpus recipe as the 500k record

CHILD = r"""
import os, sys, time, json
os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[v] = "1"
sys.path.insert(0, {repo!r})
cpus = int(sys.argv[1]); corpus = sys.argv[2]
from pyspark.sql import SparkSession, functions as F
spark = (SparkSession.builder.master(f"local[{{cpus}}]")
         .config("spark.sql.shuffle.partitions", str(cpus))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
         .config("spark.python.unix.domain.socket.enabled", "true")
         .config("spark.driver.memory", "48g")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from hiselspark.pipeline import select_features_pointintime
from hiselspark.operators.chunked import release_chunk_caches
def load(which):
    lbl = (spark.read.parquet(f"{{corpus}}/{{which}}labels")
           .withColumn("label_ts", F.col("label_ts").cast("timestamp")))
    return f"{{corpus}}/{{which}}images", lbl
pi, pl = load("pilot_")
select_features_pointintime(pi, pl, number_of_features=4,
                            minibatch_size=200)
release_chunk_caches()
images, labels = load("")
walls = []
for _ in range(2):
    t0 = time.perf_counter()
    res = select_features_pointintime(images, labels,
                                      number_of_features=4,
                                      minibatch_size=200)
    walls.append(time.perf_counter() - t0)
    release_chunk_caches()
wall = min(walls)
print(json.dumps({{"cpus": cpus, "wall_sec": wall,
                   "rows_used": res.n_rows_used,
                   "rows_per_sec": res.n_rows_used / wall,
                   "selected": res.features}}))
"""


def child(cpus: int, corpus: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", CHILD.format(repo=REPO), str(cpus), corpus],
        capture_output=True, text=True, cwd=REPO, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    corpus = f"/tmp/hiselspark_scaling_corpus_{N}"
    if not os.path.exists(f"{corpus}/labels"):
        subprocess.run(
            [sys.executable, "-c", STAGE.format(repo=REPO), str(N), corpus],
            cwd=REPO, check=True, capture_output=True, text=True)
    runs = {8: [], 32: []}
    for cpus in (8, 32, 8, 32):
        r = child(cpus, corpus)
        runs[cpus].append(r)
        print(json.dumps(r))
    best = {c: min(rs, key=lambda r: r["wall_sec"])
            for c, rs in runs.items()}
    eff = best[32]["rows_per_sec"] / (4.0 * best[8]["rows_per_sec"])
    section = {
        "protocol": "same pipeline, 2M-image corpus (4x), interleaved "
                    "local[8]/local[32] runs (best per config of 2 "
                    "sessions x 2 in-session reps, decorrelating host "
                    "drift)",
        "local8": best[8],
        "local32": best[32],
        "scaling_efficiency": round(eff, 3),
        "wall32_lt_wall8": best[32]["wall_sec"] < best[8]["wall_sec"],
        "timestamp": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    path = os.path.join(REPO, "BENCH_SCALING.json")
    data = json.load(open(path))
    data["n_images_2m_run"] = section
    e500 = data.get("scaling_efficiency")
    data["scale_trend"] = {
        "raw_efficiency_500k": e500,
        "raw_efficiency_2m": round(eff, 3),
        "note": "raw efficiency rising with input size = the fixed "
                "scheduling/stage cost amortizes; an N->4N cluster at "
                "the 10^12 target sees the asymptote, not the 500k "
                "point",
    }
    json.dump(data, open(path, "w"), indent=2)
    print(json.dumps(section, indent=2))


if __name__ == "__main__":
    main()
