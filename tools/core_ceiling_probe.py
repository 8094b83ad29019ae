"""Hardware-ceiling probe for the CORE stage: the exact per-minibatch
sufficient-statistics kernel the Spark selector runs
(``kernels.batch_sufficient_stats`` on 200-row minibatches of the
staged feature frame) under bare ``multiprocessing`` — no Spark, no
JVM, no scheduler — at 8 vs 32 processes.

Companion to ``scan_ceiling_probe.py``: if bare process-parallel
Gram-stats also reaches only ~2x from 8 -> 32 workers, the core
stage's measured Spark efficiency is the box's shared-memory-bus
ceiling for this bandwidth-bound workload, not engine overhead.

Usage: python tools/core_ceiling_probe.py [n_images=2000000]
Reads the frame staged by tools/scaling_stages.py; writes
``core_ceiling_probe_{n}`` into BENCH_SCALING.json.
"""
from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_v] = "1"   # one BLAS thread per worker, like the engine

MINIBATCH = 200


def work_item(args):
    """One (file, row_group): the Spark core task's per-group body —
    read the group, chop into 200-row minibatches (drop remainder,
    reference rule), accumulate (Phi^T Phi, Phi^T psi)."""
    file, rg = args
    import numpy as np
    import pyarrow.parquet as pq

    from hiselspark.kernels import KernelKind, batch_sufficient_stats

    tbl = pq.ParquetFile(file).read_row_group(int(rg))
    cols = tbl.schema.names
    fcols = [c for c in cols if c != "y"]
    x = np.column_stack([tbl[c].to_numpy(zero_copy_only=False)
                         for c in fcols]).astype(np.float64)
    y = tbl["y"].to_numpy(zero_copy_only=False).astype(np.float64)
    d = x.shape[1]
    xtx = np.zeros((d, d))
    xty = np.zeros(d)
    n_mb = len(x) // MINIBATCH
    for i in range(n_mb):
        sl = slice(i * MINIBATCH, (i + 1) * MINIBATCH)
        bx, by = batch_sufficient_stats(
            x[sl], y[sl], KernelKind.RBF, KernelKind.RBF)
        xtx += bx
        xty += by
    return n_mb


def run(nproc: int, items):
    t0 = time.perf_counter()
    with mp.get_context("spawn").Pool(nproc) as pool:
        total = sum(pool.map(work_item, items, chunksize=1))
    return time.perf_counter() - t0, total


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    frame_dir = f"/tmp/hiselspark_stage_inter_{n}/frame"
    import glob
    import pyarrow.parquet as pq
    items = []
    for f in sorted(glob.glob(f"{frame_dir}/*.parquet")):
        for rg in range(pq.ParquetFile(f).metadata.num_row_groups):
            items.append((f, rg))
    print(f"{len(items)} row groups")
    results = {8: [], 32: []}
    run(32, items[: max(len(items) // 8, 1)])  # page-cache warm
    for nproc in (8, 32, 8, 32):
        wall, total = run(nproc, items)
        results[nproc].append(wall)
        print(json.dumps({"nproc": nproc, "wall_sec": wall,
                          "minibatches": total}))
    best8, best32 = min(results[8]), min(results[32])
    section = {
        "protocol": ("bare multiprocessing.Pool over the SAME "
                     "(file, row-group) items as the Spark core tasks, "
                     "each running kernels.batch_sufficient_stats on "
                     "200-row minibatches — no Spark; interleaved "
                     "8/32/8/32, best per config; 1 BLAS thread per "
                     "worker; page cache pre-warmed"),
        "n_images": n,
        "wall8_sec": round(best8, 2),
        "wall32_sec": round(best32, 2),
        "all_walls8_sec": [round(w, 2) for w in sorted(results[8])],
        "all_walls32_sec": [round(w, 2) for w in sorted(results[32])],
        "ceiling_8_to_32": round(best8 / best32 / 4.0, 3),
        "timestamp": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    path = os.path.join(REPO, "BENCH_SCALING.json")
    data = json.load(open(path))
    data[f"core_ceiling_probe_{n}"] = section
    json.dump(data, open(path, "w"), indent=2)
    print(json.dumps(section, indent=2))


if __name__ == "__main__":
    main()
