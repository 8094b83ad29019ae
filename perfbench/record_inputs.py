"""Record the input descriptions the benchmark checks on every run.

    python3 perfbench/record_inputs.py

Writes ``perfbench/inputs.json``: the canary generation and the full
inputs of every corpus at seed 42 (row counts, content fingerprints
and, for the point-in-time corpus, the expected training-frame rows).
Run it only when a change to the input generators is intended.
"""
from __future__ import annotations

import json
import shutil
import sys

import run


def main() -> int:
    run.configure_env()
    import probes
    import workloads as wl

    scratch = run.CACHE / "record"
    shutil.rmtree(scratch, ignore_errors=True)
    spark = run.build_session(run.host_cores())
    try:
        out = {"canary": wl.canary(spark), "seed42": {}}
        # prepare() compares seed-42 inputs with the recorded entry:
        # clear it before generating the new one
        wl.RECORDED.write_text(json.dumps(out, indent=1) + "\n")
        for corpus in sorted({w.corpus for w in wl.WORKLOADS.values()}):
            out["seed42"][corpus] = wl.prepare(
                spark, corpus, wl.CANARY_SEED, scratch).meta
    finally:
        probes.stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    wl.RECORDED.write_text(json.dumps(out, indent=1) + "\n")
    print(f"wrote {wl.RECORDED}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
