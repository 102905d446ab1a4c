"""Core-scaling lane (r17 — r16 VERDICT item 6): at sf0.1 the whole bench
is scheduler/fixed-overhead-bound, so local wall-clock cannot confirm
parallelism and plan pins were the only guard against a change that
serializes a path. This probe times a handful of heavy
parallel-by-design queries against the 10x (sf1) full fixture at
local[1] and at local[N], N being every core of the host
(``os.cpu_count()``), and records the ratio — a serialization regression
shows up in NUMBERS (ratio collapsing toward 1), not just plan shape.
One core against all of the host's cores never oversubscribes it.

Each core count runs in its own subprocess (one JVM cannot change its
master); the fixture is the same synthesize_full output scale_probe uses.
Writes CORE_SCALING.json at the repo root, e.g. on a 4-core host:
  {"sf_base": 0.1, "scale": 10, "cpus": [1, 4],
   "queries": {name: {"s_1": .., "s_4": .., "ratio": ..}},
   "min_ratio": .., "median_ratio": ..}

Run standalone on a QUIET machine:  python tools/core_scaling_probe.py
(--keep to retain the 10x scratch fixture for reuse).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Parallel-by-design heavy hitters: wide scans + shuffles (simhash
# fingerprints, span hashing, the composed corpus pipeline), an
# exchange-backed aggregate web (q5), a fixed-point moment sweep
# (ml_ols), and a spread Python codec stage (flac). Graph loops are
# deliberately absent: their wall is per-round barrier latency, which
# parallelism does not amortize at this scale.
PROBE_QUERIES = [
    "dedup_simhash_adaptive",
    "dedup_exact_substring",
    "corpus_prepare_pipeline",
    "q5_region_revenue",
    "ml_ols_regression",
    "multimodal_decode_flac",
]


def worker(cpus: int, sf_dir: str, names: list[str]) -> None:
    """Child process: time each query at local[cpus], print one JSON."""
    from etl_drone_sense_spark.caching import release_caches
    from etl_drone_sense_spark.plans.registry import all_queries
    from etl_drone_sense_spark.session import get_spark

    spark = get_spark(
        app_name=f"core-scaling-{cpus}", master=f"local[{cpus}]"
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    def run(fn):
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        release_caches()

    out: dict[str, float] = {}
    for name in names:
        fn = queries[name]
        run(fn)  # warm (JVM/codegen) — same fixture, first run discarded
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            run(fn)
            samples.append(time.perf_counter() - t0)
        out[name] = round(statistics.median(samples), 3)
    print("CORE_SCALING_WORKER " + json.dumps(out))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, default=10)
    ap.add_argument("--keep", action="store_true")
    ap.add_argument("--cpus", type=int, default=None, help="(worker mode)")
    ap.add_argument("--dir", default=None, help="(worker mode)")
    ap.add_argument("--names", default=None, help="(worker mode)")
    args = ap.parse_args()

    if args.cpus is not None:
        worker(args.cpus, args.dir, args.names.split(","))
        return 0

    from etl_drone_sense_spark.session import get_spark
    from tools.scale_probe import SCRATCH, synthesize_full

    spark = get_spark(app_name="core-scaling-synth")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = synthesize_full(spark, args.scale)
    spark.stop()

    lo, hi = 1, os.cpu_count() or 1
    timings: dict[int, dict[str, float]] = {}
    for cpus in (lo, hi):
        proc = subprocess.run(
            [
                sys.executable, os.path.abspath(__file__),
                "--cpus", str(cpus), "--dir", sf_dir,
                "--names", ",".join(PROBE_QUERIES),
            ],
            capture_output=True, text=True, cwd=REPO,
        )
        line = [
            ln for ln in proc.stdout.splitlines()
            if ln.startswith("CORE_SCALING_WORKER ")
        ]
        if proc.returncode or not line:
            print(proc.stdout[-2000:], file=sys.stderr)
            print(proc.stderr[-2000:], file=sys.stderr)
            raise RuntimeError(f"worker local[{cpus}] failed")
        timings[cpus] = json.loads(line[-1].split(" ", 1)[1])
        print(f"local[{cpus}]: {timings[cpus]}", file=sys.stderr)

    queries = {
        name: {
            f"s_{lo}": timings[lo][name],
            f"s_{hi}": timings[hi][name],
            "ratio": round(timings[lo][name] / max(timings[hi][name], 1e-9), 2),
        }
        for name in PROBE_QUERIES
    }
    ratios = sorted(q["ratio"] for q in queries.values())
    report = {
        "sf_base": 0.1,
        "scale": args.scale,
        "cpus": [lo, hi],
        "queries": queries,
        "min_ratio": ratios[0],
        "median_ratio": ratios[len(ratios) // 2],
    }
    with open(os.path.join(REPO, "CORE_SCALING.json"), "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    print(json.dumps(report))
    if not args.keep:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
