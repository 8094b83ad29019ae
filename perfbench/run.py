"""hiselspark benchmark.

    python3 perfbench/run.py --workload pit_b200 --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  One process drives Spark on
``local[<cores>]`` as a closed loop: one client, one call in flight.
Inputs are generated from ``--seed`` (see ``workloads.py``).  The run
starts a session, makes one cold call (together: ``setup_s``) and one
untimed warm-up call, then repeats the workload's public call for up to
``--seconds``, timing the wall and the process tree's CPU seconds of
each call and checking every result.  ``--trace 1`` instead times each
layer separately (``layers.py``).  A report goes to stdout, and its
last line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``.

Exit codes: 0 done, 2 not run from a checkout of the repository,
3 inputs differ from their recorded description.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path
from typing import Callable, Dict, List, Tuple

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench_cache"
# Untimed warm calls after the cold one: the JVM keeps compiling through
# the first warm call, which uses about 1.4x the CPU of later ones.
WARMUP_CALLS = 1


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """An eighth of the host's memory, between 1 and 2 GiB.  The
    inputs need far less; a small cap lets the heap reach its ceiling
    early in every run, so peak memory does not follow when the JVM
    chose to grow it.  Python workers and off-heap memory use the rest."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal"))
                       .split()[1])
    return max(1024, min(2048, total_kb // 8 // 1024))


def configure_env() -> None:
    """Before numpy or Spark load: workers import hiselspark from this
    checkout, run one BLAS thread each (Spark's tasks are the
    parallelism), and keep temporary files inside the checkout."""
    tmp = CACHE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = str(ROOT)
    os.environ["TMPDIR"] = str(tmp)
    # the short-lived JVM that spark-submit runs to build the command
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    sys.path.insert(0, str(ROOT))


def build_session(cores: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName("hiselspark-perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.driver.memory", f"{driver_heap_mb()}m")
        # no /tmp/hsperfdata: the run writes only inside the checkout
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={CACHE / 'tmp'} -XX:-UsePerfData")
        .config("spark.local.dir", str(CACHE / "spark-local"))
        .config("spark.sql.warehouse.dir", str(CACHE / "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _quartiles(xs: List[float]) -> Tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def measure(spark, w, seed: int, seconds: float,
            cpu_s: Callable[[], float]) -> Tuple[dict, dict, List[str]]:
    """Cold call, warm-up, then the closed loop.  Returns (samples,
    counts, problems); ``samples`` holds the timings behind each
    metric.  ``cpu_s`` reads the process tree's CPU seconds so far."""
    import workloads as wl

    t0 = time.perf_counter()
    inputs = wl.prepare(spark, w.corpus, seed, CACHE)
    inputs_s = time.perf_counter() - t0
    problems: List[str] = []
    t0 = time.perf_counter()
    res = wl.call(spark, w, inputs)
    cold_s = time.perf_counter() - t0
    problems += wl.check_selection(w, res.features)
    reference = frozenset(res.features)

    def one_call() -> Tuple[float, float, List[str]]:
        c0, t0 = cpu_s(), time.perf_counter()
        try:
            res = wl.call(spark, w, inputs)
        except Exception:      # a failed call is counted, not fatal
            traceback.print_exc()
            res = None
        wall, c1 = time.perf_counter() - t0, cpu_s()
        if res is None:
            bad = ["call raised"]
        else:
            bad = wl.check_selection(w, res.features)
            if frozenset(res.features) != reference:
                bad.append(f"selected {sorted(res.features)}, first call "
                           f"selected {sorted(reference)}")
        return wall, c1 - c0, bad

    outcomes: List[List[str]] = []
    warm_walls: List[float] = []
    for _ in range(WARMUP_CALLS):
        wall, _, bad = one_call()
        warm_walls.append(wall)
        outcomes.append(bad)
    walls: List[float] = []
    cpus: List[float] = []
    # start no call that would end past ``seconds`` (judged by the
    # median so far), so the run's length does not jump by a whole call
    start = time.perf_counter()
    while not walls or (time.perf_counter() - start
                        + statistics.median(walls) <= seconds):
        wall, cpu, bad = one_call()
        walls.append(wall)
        cpus.append(cpu)
        outcomes.append(bad)
    loop_s = time.perf_counter() - start
    samples = {"walls": walls, "cpus": cpus, "warm_walls": warm_walls,
               "cold_s": cold_s, "inputs_s": inputs_s, "loop_s": loop_s,
               "rows": wl.input_rows(w, inputs)}
    for bad in outcomes:
        problems += bad
    counts = {"attempted": len(outcomes),
              "failed": sum(1 for bad in outcomes if bad)}
    return samples, counts, problems


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / "hiselspark" / "__init__.py").is_file():
        print(f"error: no hiselspark package under {ROOT}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    configure_env()
    import probes
    import layers
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; "
                f"one of {sorted(wl.WORKLOADS)}")
    w = wl.WORKLOADS[args.workload]
    cores = host_cores()

    drift = None
    with probes.MemorySampler() as mem:
        t0 = time.perf_counter()
        spark = build_session(cores)
        session_s = time.perf_counter() - t0
        try:
            if args.trace:
                inputs = wl.prepare(spark, w.corpus, args.seed, CACHE)
                wl.call(spark, w, inputs)          # warm the session
                counter = probes.JobCounter(spark.sparkContext)
                metrics, problems = layers.run(
                    spark, counter, w, inputs,
                    str(CACHE / "stage" / f"{w.corpus}-s{args.seed}"))
                counts = {"attempted": 1, "failed": int(bool(problems))}
            else:
                me, tids = os.getpid(), (mem.tid,)
                samples, counts, problems = measure(
                    spark, w, args.seed, args.seconds,
                    lambda: probes.tree_cpu_s(me, tids))
            # after the timed part: on a warm JVM it takes about a second
            t0 = time.perf_counter()
            wl.check_canary(spark)
            canary_s = time.perf_counter() - t0
        except wl.InputDrift as e:
            drift = str(e)
        finally:
            t0 = time.perf_counter()
            probes.stop_spark(spark)
            stop_s = time.perf_counter() - t0
    if drift:
        print(f"error: {drift}", file=sys.stderr)
        return 3

    print(f"workload {w.name}  seed {args.seed}  local[{cores}]  "
          f"driver heap {driver_heap_mb()} MiB  trace {args.trace}")
    if not args.trace:
        walls, cpus = samples["walls"], samples["cpus"]
        wall, cpu = statistics.median(walls), statistics.median(cpus)
        metrics: Dict[str, Tuple[float, str]] = {
            "cpu_s": (cpu, "core-s"),
            "setup_s": (session_s + samples["cold_s"], "s"),
            "peak_pss_mb": (mem.peak_bytes / 2 ** 20, "MB"),
        }
        for name, xs, unit in (("cpu_s", cpus, "core-s"),
                               ("wall_s", walls, "s")):
            q1, q3 = _quartiles(xs)
            print(f"  {name:12s} median {statistics.median(xs):.3f}  "
                  f"q1 {q1:.3f}  q3 {q3:.3f}  n {len(xs)}  ({unit})")
            print(f"  {'':12s} " + " ".join(f"{x:.3f}" for x in xs))
        print(f"  rows_per_s   {samples['rows'] / wall:.1f}  "
              f"({samples['rows']} rows / median wall)")
        print(f"  setup_s      {metrics['setup_s'][0]:.3f}  (session "
              f"{session_s:.3f} + cold call {samples['cold_s']:.3f}, n 1)")
        print(f"  peak_pss_mb  {metrics['peak_pss_mb'][0]:.1f}  "
              f"(process tree, {mem.samples} samples)")
        print(f"  phases       session {session_s:.1f}  inputs "
              f"{samples['inputs_s']:.1f}  cold {samples['cold_s']:.1f}  "
              f"warm-up {sum(samples['warm_walls']):.1f}  loop "
              f"{samples['loop_s']:.1f}  canary {canary_s:.1f}  "
              f"stop {stop_s:.1f}  (s)")
        print(f"  fail_ratio   "
              f"{counts['failed'] / counts['attempted']:.3f}  "
              f"({counts['failed']} of {counts['attempted']} warm calls)")
    else:
        for name, (value, unit) in metrics.items():
            print(f"  {name:32s} {value:14.6g} {unit}")
    for problem in problems:
        print(f"  FAILED CHECK: {problem}")
    print(f"  correct {not problems}")
    print(json.dumps({
        "correct": not problems,
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": {n: {"value": v, "unit": u}
                    for n, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
