#!/usr/bin/env python3
"""The repository benchmark: four seeded workloads over the ride pipeline and
the batch engine, on one local[cores] Spark JVM per run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds into
$CARGO_TARGET_DIR (default .bench_build), see build.py; later runs reuse the
build while the sources are unchanged.

The last line of stdout is one JSON object: the correctness verdict, the
operations attempted and failed, and the end-to-end metrics (--trace 0) or
the per-layer metrics (--trace 1). The lines above it name every metric the
way the benchmark's notes do and list any failed operation.
"""
import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import oracle  # noqa: E402
import staging  # noqa: E402
from build import Build, fail, sh  # noqa: E402

WORKLOADS = {
    "batch_floor": ["ref_window_agg", "ref_accumulated_upsert", "ref_json_roundtrip_agg",
                    "ref_json_extract", "ref_cast_epoch", "ref_sort_bi", "q1_pricing",
                    "rel_stats", "rel_retention_cohort", "rel_funnel_steps",
                    "rel_decile_lift", "sample_pps", "stream_sliding_window",
                    "stream_session_window", "stream_dedup_exact", "stream_topk"],
    "batch_iterative": ["graph_cc_twostars", "text_unigram_encode"],
    "stream_backlog": [],
    "stream_paced": [],
}
RUN_TIMEOUT_S = 170
# The workload-specific name of each end-to-end metric.
NAMES = {
    "batch_floor": {"latency_p50_ms": "floor_query_p50_ms",
                    "throughput_per_s": "floor_queries_per_s"},
    "batch_iterative": {"latency_p50_ms": "iter_query_p50_ms",
                        "throughput_per_s": "iter_queries_per_s"},
    "stream_backlog": {"latency_p50_ms": "stream_batch_p50_ms",
                       "throughput_per_s": "stream_events_per_s"},
    "stream_paced": {"latency_p50_ms": "stream_latency_p50_ms",
                     "throughput_per_s": "stream_delivered_events_per_s"},
}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: src/main/scala/graft is missing")
    bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    b = Build(root, bdir)
    b.ensure(WORKLOADS["batch_floor"] + WORKLOADS["batch_iterative"])

    work = os.path.join(bdir, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "out")
    if a.workload.startswith("stream_"):
        staging.stage(a.seed, a.workload, a.seconds, b.pool_of(a.workload),
                      os.path.join(work, "staged"), min_files=200 if a.trace else 0)
    cores = os.cpu_count() or 1
    sh(b.java(work) + ["run", "--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--cores", str(cores),
                       "--fixtures", b.fixtures,
                       "--work", work, "--out", out],
       os.path.join(work, "jvm.log"), RUN_TIMEOUT_S, b.env(work))
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    failed_names = list(res["failed_names"])
    checks = dict(res["checks"])
    attempted = res["attempted"]
    for name in WORKLOADS[a.workload]:
        why = oracle.compare(name, os.path.join(out, "outputs", name), b.expected)
        attempted += 1
        checks[f"{name} matches the oracle"] = why is None
        if why:
            failed_names.append(f"{name}: {why}")
    failed = len(failed_names)

    e2e = res["end_to_end"]
    for k, v in e2e.items():
        alias = NAMES[a.workload].get(k)
        print(f"{a.workload} {k} = {v['value']:.6g} {v['unit']}" +
              (f"  ({alias})" if alias else ""))
    if "iter_wall_s" in res["info"]:
        print(f"{a.workload} iter_wall_s = {res['info']['iter_wall_s']:.6g} s")
    print(f"{a.workload} fail_ratio = {failed}/{attempted}")
    print(f"{a.workload} correctness: " + ", ".join(
        f"{k}: {'ok' if v else 'FAILED'}" for k, v in checks.items()))
    print(f"{a.workload} failed: {json.dumps(failed_names)}")
    print(f"{a.workload} info: {json.dumps(res['info'])}")
    metrics = res["per_layer"] if a.trace else e2e
    print(json.dumps({"correct": failed == 0 and all(checks.values()),
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
