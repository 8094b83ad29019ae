"""The operators of a call that run outside whole-stage codegen.

Usage: PYTHONPATH=. python tools/codegen_fallbacks.py WORKLOAD [--seed 1]

``WORKLOAD`` is a benchmark workload (``pit_b200``, ``tabular_b1000``;
inputs from ``perfbench.workloads``, cached under ``.perfbench_cache``).
The script runs one warm-up call, then one call with every row-returning
action recorded (``collect``, ``toPandas``), and prints each action's
operators that sit outside a ``WholeStageCodegen`` node.  The walk
follows the adaptive final plan and its query stages, skips reused
exchanges, and enters each cached plan once, so the fill of a persisted
frame (the ``count()`` that materializes it) is reported where a later
action reads it.

Shuffle and broadcast exchanges, stage reads, columnar scans (read
through a codegen ``ColumnarToRow``) and the Python operators
(``MapInPandas``, ``FlatMapGroupsInPandas``, ...) never run in codegen
and are not listed.  A ``HashAggregate``, ``Project`` or ``Window`` in
the list is a fallback: Spark turns codegen off for a plan whose
expressions exceed ``spark.sql.codegen.maxFields`` (100), or for an
operator without a code path, and runs it through generated projections
instead.
"""
from __future__ import annotations

import argparse
import contextlib
import os
import sys
from pathlib import Path
from typing import Set

# boundaries and operators that never run inside whole-stage codegen
_NEVER = ("ShuffleExchangeExec", "BroadcastExchangeExec",
          "AQEShuffleReadExec", "InputAdapter", "InMemoryTableScanExec",
          "FileSourceScanExec")
_PYTHON = ("Python", "Pandas", "Arrow")


def outside_codegen(plan, seen: Set[int] = None) -> list:
    """The operators (JVM ``SparkPlan`` nodes) of an executed physical
    plan that run outside whole-stage codegen, in walk order.  ``seen``
    holds the cached plans already walked."""
    seen = set() if seen is None else seen
    out = []

    def walk(node, inside: bool) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan(), False)
        if cls.endswith("QueryStageExec"):
            return walk(node.plan(), False)
        if cls == "ReusedExchangeExec":
            return None
        if cls == "WholeStageCodegenExec":
            return walk(node.child(), True)
        if cls == "InputAdapter":
            inside = False
        elif cls == "InMemoryTableScanExec":
            builder = node.relation().cacheBuilder()
            if builder.hashCode() not in seen:
                seen.add(builder.hashCode())
                walk(builder.cachedPlan(), False)
        if not (inside or cls in _NEVER
                or any(p in cls for p in _PYTHON)):
            out.append(node)
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i), inside)

    walk(plan, False)
    return out


@contextlib.contextmanager
def recorded_actions():
    """Yield a list that collects every DataFrame on which ``collect``
    or ``toPandas`` runs inside the block."""
    from pyspark.sql.classic.dataframe import DataFrame

    frames = []
    saved = {m: getattr(DataFrame, m) for m in ("collect", "toPandas")}

    def recording(method):
        def run(self, *args, **kwargs):
            if not any(f is self for f in frames):
                frames.append(self)
            return method(self, *args, **kwargs)
        return run

    for m, fn in saved.items():
        setattr(DataFrame, m, recording(fn))
    try:
        yield frames
    finally:
        for m, fn in saved.items():
            setattr(DataFrame, m, fn)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workload")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [repo, os.environ.get("PYTHONPATH")]))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    from pyspark.sql import SparkSession

    from perfbench import workloads as W

    spark = (SparkSession.builder.master("local[*]")
             .config("spark.sql.shuffle.partitions", str(os.cpu_count()))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    w = W.WORKLOADS[args.workload]
    inputs = W.prepare(spark, w.corpus, args.seed,
                       Path(repo) / ".perfbench_cache")
    W.call(spark, w, inputs)
    with recorded_actions() as frames:
        W.call(spark, w, inputs)
    seen: Set[int] = set()
    for i, df in enumerate(frames):
        ops = outside_codegen(df._jdf.queryExecution().executedPlan(),
                              seen)
        print(f"action {i}: {len(ops)} operators outside codegen")
        for op in ops:
            print(f"  {op.simpleString(4)[:150]}")
    spark.stop()


if __name__ == "__main__":
    main()
