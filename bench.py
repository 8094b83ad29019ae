"""Benchmark harness — the driver runs this per round.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line.  The headline ``value`` is the north metric: entity×timestamp
feature rows/sec through the full point-in-time pipeline (as-of join +
windowed features + HSIC selection) on the deterministic synthetic
image+caption corpus; ``queries`` carries per-query wall seconds.
The north pipeline is timed at steady state after one untimed warm
pass (same protocol as tools/scaling.py): one-time session
costs — codegen compilation, JIT, Python-worker spawn — are paid once
per cluster lifetime, not per job, and measuring them per-run would
benchmark the JVM bootstrap instead of the engine.

Scaling-efficiency evidence (local[8] vs local[32]) is produced by
``tools/scaling.py`` (separate sessions needed) and recorded in
BASELINE.md / BENCH_SCALING.json.
"""
from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
# one BLAS thread per Python worker: Spark's task parallelism is the
# scaling axis — nested OpenBLAS pools (32 tasks x 32 threads) thrash
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# north-pipeline corpus size scales with the sf of the test tables,
# parsed from the directory name (sf0.001 / sf0.01 / sf0.1 / sf1 ...)
import re as _re

_m = _re.search(r"sf([0-9.]+)", os.path.basename(SF_DIR.rstrip("/")))
_SF_GUESS = float(_m.group(1)) if _m else 0.001
N_IMAGES = int(os.environ.get("SPARK_GRAFT_N_IMAGES",
                              str(int(600_000 * _SF_GUESS))))


def build_session():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder
        .master(f"local[{CPUS}]")
        .appName("hiselspark-bench")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # multi-KB binary payloads: bound Arrow batches so a pandas-UDF
        # worker never holds a 100MB+ frame (allocator thrash at high
        # worker counts)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # JVM<->Python worker links over unix domain sockets: measurably
        # steadier than loopback TCP at high worker counts
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def main() -> None:
    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as se
    from hiselspark import datagen
    from hiselspark.pipeline import select_features_pointintime

    timings: dict[str, float] = {}
    raw_walls: dict[str, list] = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        out = fn()
        w = round(time.perf_counter() - t0, 3)
        raw_walls.setdefault(name, []).append(w)
        timings[name] = min(raw_walls[name])
        return out

    # warm the JVM/Arrow paths once so per-query numbers are not
    # dominated by first-call initialization
    spark.range(1000).selectExpr("sum(id)").collect()

    qs = se.queries()
    # ANN headline = the scale plans (pq/ivf); exact cosine stays as
    # the recall verifier below, not a headline (it is the O(P x N)
    # brute-force path — correct, but not the plan you'd run at 100 TB)
    headliners = ("asof_join", "rolling_1h", "sessionize", "lag_lead",
                  "tpch_q1", "broadcast_join_agg", "ivf_topk",
                  "dedup_exact", "pack_sequences", "curate_corpus",
                  "resample_ffill", "heavy_hitters", "pq_topk",
                  "rolling_distinct", "asof_nearest", "image_spatial",
                  "dhash", "auc", "tpch_q5",
                  # round-3 representatives: HSIC-family count-closed
                  # ranking, windowed attribution, HOG-lite pixels
                  "hsic_rank", "attribution", "image_gradhist",
                  # round-4 representatives: exhaustive k-gram span
                  # dedup (the per-position explode is the cost story)
                  # and iterative BPE training (6 agg+replace rounds)
                  "dup_spans", "bpe_train",
                  # late-round-4 representatives: the widest TPC-H
                  # completion join (q9: 5-table star, exact _e6
                  # profit), iterative weighted shortest paths, and
                  # the n-gram count-join BLEU pair eval
                  "tpch_q9", "weighted_hops", "bleu_pairs",
                  # round-4 second-session representatives: the
                  # heaviest new interval join (U-shaped multi-touch
                  # credit), the dyadic-block Hurst window stack, and
                  # the fixed-point Bradley-Terry preference fit
                  "u_attribution", "hurst", "bradley_terry")
    # interleaved best-of-2: the full list runs twice in order, so the
    # two reps of each query are separated in time — on a noisy shared
    # host (observed 2-3x swings on identical plans minutes apart)
    # min-of-interleaved-reps estimates the uncontended wall, and the
    # raw observations stay in the artifact so round-over-round deltas
    # are interpretable as plan changes vs noise
    for _rep in range(2):
        for name in headliners:
            timed(name, lambda n=name: qs[n](spark, SF_DIR)
                  .write.format("noop").mode("overwrite").save())
        timed("flagship_events",
              lambda: se.flagship(spark, SF_DIR).collect())

    # ANN recall-vs-exact, reported next to the approximate walls: the
    # brute-force verifier computes the exact top-5 per probe and each
    # scale plan is graded against it
    t0 = time.perf_counter()
    exact_pdf = qs["embedding_topk"](spark, SF_DIR).toPandas()
    verifier_sec = round(time.perf_counter() - t0, 3)
    truth = exact_pdf.groupby("probe_id")["vec_id"].apply(set)

    def recall_of(name):
        pdf = qs[name](spark, SF_DIR).toPandas()
        got = pdf.groupby("probe_id")["vec_id"].apply(set)
        hits = sum(len(truth[p] & got.get(p, set())) for p in truth.index)
        return round(hits / sum(len(s) for s in truth), 4)

    ann_recall = {"pq_topk": recall_of("pq_topk"),
                  "ivf_topk": recall_of("ivf_topk"),
                  "cosine_verifier_sec": verifier_sec}

    # north metric: full image+caption point-in-time pipeline over a
    # parquet-staged corpus (the rule's input is a table, not an
    # in-job generator; staging is untimed and cached across runs).
    # Passing the PATH routes featurization through the scan-fused
    # reader — image bytes go disk -> Python task, never via the JVM.
    n_labels = max(N_IMAGES // 4, 100)
    img_path = f"/tmp/hiselspark_bench_images_{N_IMAGES}_s42"
    if not os.path.exists(f"{img_path}/_SUCCESS"):
        (datagen.images(spark, N_IMAGES, seed=42, partitions=CPUS)
         .write.mode("overwrite").parquet(img_path))
    lbls = datagen.labels(spark, N_IMAGES, n_labels=n_labels, seed=42,
                          partitions=max(CPUS // 4, 1))
    # warm pass (untimed), same protocol as tools/scaling.py: the
    # first execution of this plan pays one-time session costs (whole-
    # stage-codegen compilation, JIT, Python-worker spawn, shuffle-
    # service setup — measured ~2 min cold vs ~13 s steady-state at
    # sf0.1) that a long-lived cluster amortizes across jobs.  The
    # north metric is steady-state throughput.
    select_features_pointintime(img_path, lbls, number_of_features=4,
                                minibatch_size=200)
    # best of two timed reps: this sandbox shares the host with other
    # tenants whose load spikes skew single-shot walls by 2-3x (observed
    # 10s vs 35s for the identical plan minutes apart); the minimum of
    # two steady-state reps estimates the uncontended wall
    # float32 = the corpus-scale configuration: float32 Gram tiles
    # (float64 accumulators) — the documented opt-in for 10^12-row
    # runs, where the bandwidth-bound Gram stage gains 2.5-2.9x
    # (BASELINE.md).  Selection must agree with the float64 run;
    # headline stays float64 for round-over-round comparability.
    # Reps interleave f64/f32 so each pair of observations is
    # separated in time (same noise rationale as the headliners).
    north_sec = north32_sec = float("inf")
    for _rep in range(2):
        t0 = time.perf_counter()
        res = select_features_pointintime(img_path, lbls,
                                          number_of_features=4,
                                          minibatch_size=200)
        w = time.perf_counter() - t0
        north_sec = min(north_sec, w)
        raw_walls.setdefault("north_pipeline", []).append(round(w, 3))
        t0 = time.perf_counter()
        res32 = select_features_pointintime(img_path, lbls,
                                            number_of_features=4,
                                            minibatch_size=200,
                                            precision="float32")
        w = time.perf_counter() - t0
        north32_sec = min(north32_sec, w)
        raw_walls.setdefault("north_pipeline_f32", []).append(round(w, 3))
    timings["north_pipeline"] = round(north_sec, 3)
    rows_per_sec = res.n_rows_used / north_sec if north_sec > 0 else 0.0
    timings["north_pipeline_f32"] = round(north32_sec, 3)
    # float32 can flip a near-tied cut at the selection boundary
    # (identical top-k is the common case, not a guarantee) — report
    # the comparison rather than assert it
    f32_same = sorted(res32.features) == sorted(res.features)

    print(json.dumps({
        "metric": "entity_ts_feature_rows_per_sec",
        "value": round(rows_per_sec, 1),
        "unit": "rows/sec",
        "queries": timings,
        "raw_walls": raw_walls,
        "ann_recall_at_5": ann_recall,
        "sf": _SF_GUESS,
        "north_pipeline": {
            "n_images": N_IMAGES,
            "n_labels": n_labels,
            "warm_runs": 1,
            "feature_rows_used": res.n_rows_used,
            "n_minibatches": res.n_minibatches,
            "selected": res.features,
            "wall_sec": round(north_sec, 3),
            "f32_wall_sec": round(north32_sec, 3),
            "f32_rows_per_sec": round(
                res32.n_rows_used / north32_sec, 1) if north32_sec else 0.0,
            "f32_selection_identical": f32_same,
            "f32_selected": res32.features,
        },
        "cpus": CPUS,
    }))
    # clean teardown: flush the JSON line, stop the session, and exit
    # without running pyspark's atexit daemon teardown — its stderr-
    # forwarding threads race JVM shutdown and can spray a harmless
    # BrokenPipeError stack trace into the committed artifact
    sys.stdout.flush()
    sys.stderr.flush()
    try:
        spark.stop()
    except Exception:
        pass
    os._exit(0)


if __name__ == "__main__":
    main()
